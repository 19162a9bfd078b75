package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication family over the `documents` table (SURVEY.md §2
  * C-series): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is O(n²) in documents. Exact dedup is a
  * hash groupBy; Jaccard joins through the shingle inverted index (only
  * docs sharing a shingle ever meet); MinHash compresses each doc to a
  * 32-long signature and LSH banding buckets them (8 bands × 4 rows,
  * catches Jaccard ≥ 0.8 with ~99.99% probability); SimHash pairs come
  * from 9-block pigeonhole candidates, which is exhaustive for hamming
  * ≤ 8 — every step is a keyed shuffle, no cross join.
  *
  * All hashing is md5-derived (see TextFunctions.hash32) so results are
  * engine-reproducible and verified against DuckDB oracles.
  */
object TextDedup {

  /** MinHash parameters, shared by the Spark pipeline and the generated
    * oracle SQL (SparkEntry). a_j bounded < 2^30 so a*h + b stays well
    * inside a signed 64-bit long for h < P (shingle hashes are produced
    * mod P = 4294967311, so h can slightly exceed 2^32).
    */
  object MinHashParams {
    val P: Long = 4294967311L // smallest prime > 2^32
    val NumPerms: Int = 32
    val Bands: Int = 8
    val RowsPerBand: Int = 4
    val A: IndexedSeq[Long] = (0 until NumPerms).map(j => ((2L * j + 1) * 49979687L % 536870909L) | 1L)
    val B: IndexedSeq[Long] = (0 until NumPerms).map(j => (j + 1L) * 15485863L % 104395301L)
  }

  val ShingleSize = 5
  val JaccardNum = 4 // threshold = JaccardNum / JaccardDen = 0.8
  val JaccardDen = 5

  /** Document-frequency cap for C2's inverted index. A shingle shared
    * by M documents contributes M² candidate pairs under ONE join key,
    * so corpus boilerplate (license headers, navigation chrome) turns
    * the exhaustive self-join into a single-key explosion at scale.
    * Shingles with df > cap are dropped from C2's index — and from its
    * Jaccard vocabulary, so the pair test stays internally consistent —
    * identically on the Spark and oracle sides, bounding per-key join
    * work at cap² rows regardless of corpus size. C3 (MinHash+LSH)
    * remains the designated scale path; the C2↔C3 output contract is
    * unchanged on any corpus whose shingles all have df ≤ cap (the gate
    * tables qualify — their max df is far below 1000).
    */
  val MaxShingleDf = 1000

  /** SimHash: 60-bit signature and hamming threshold. c4 blocks the
    * signature into 9 pigeonhole blocks (9 blocks ≥ threshold+1 ⇒ any
    * pair within threshold shares a block, so blocked candidate
    * generation is exhaustive).
    */
  val SimHashBits = 60
  val HammingMax = 8

  /** doc_id + distinct 32-bit hashes of word-5-gram shingles — the
    * shared front end for the Jaccard/MinHash/fingerprint family.
    * Downstream joins and aggregations run on 8-byte longs instead of
    * ~25-byte strings (the standard shingle-hashing trick; both the
    * pipeline and the oracle use the same md5-derived hash, so the rare
    * 32-bit collision changes both sides identically).
    */
  def shingleHashes(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), md5Tokens(tokens(col("text")), 8).as("ht"))
      // per-doc dedup happens IN the row (array_distinct) before the
      // explode — a global .distinct() here would shuffle every
      // (doc, shingle) pair for something each row can decide alone.
      // explode_OUTER on purpose: plain explode makes Catalyst infer a
      // `size(hs) > 0` filter and push it below both projections,
      // substituting the whole token-hash transform into the filter
      // 5× per row (observed 80× slowdown at sf0.1); the outer variant
      // infers nothing, and the post-generate isNotNull is row-local.
      .select(col("doc_id"), array_distinct(rollingShingleHashes(col("ht"), ShingleSize)).as("hs"))
      .select(col("doc_id"), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)

  /** C1: exact dedup — hash-groupBy on md5(text), keep the smallest
    * doc_id as the canonical copy. One shuffle on the 128-bit hash, the
    * only exact-dedup plan that works at 100 TB (never shuffles text).
    */
  def c1DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** C83: NORMALIZED exact dedup — the canonical-form cell of the
    * dedup matrix raw-exact (c1) misses: the same sentence re-cased,
    * re-punctuated or re-spaced hashes differently raw but identically
    * after canonicalization (lowercase → non-alphanumerics to spaces →
    * collapse runs → trim), which is why production Bloom/exact dedup
    * keys on normalized text (c4/c3 would eventually catch these as
    * near-dups, at banding cost; this catches them at exact-hash
    * cost). Emits one row per normalized family with the canonical
    * survivor and BOTH multiplicities — total copies and distinct raw
    * variants (families with ≥ 2 raw variants are exactly c1's
    * misses). Same plan shape as c1: normalization is row-local
    * column math, one shuffle on the 128-bit hash, text never rides
    * an exchange.
    */
  def c83NormalizedDedup(spark: SparkSession, sfDir: String): DataFrame =
    c83NormalizedDedupFrom(Tables.documents(spark, sfDir))

  /** The c83 transform over any frame with (doc_id, text) — split out
    * so the spec can plant re-cased / re-punctuated variants.
    */
  def c83NormalizedDedupFrom(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        md5(col("text")).as("raw_hash"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
          .as("norm_hash")
      )
      .groupBy(col("norm_hash"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("raw_hash")).as("n_raw_variants")
      )

  /** Exact pairwise Jaccard ≥ 0.8 for a candidate pair set
    * (doc_a < doc_b). The threshold test is pure integer arithmetic
    * (den·common ≥ num·union) — no float boundary anywhere.
    *
    * With no candidate set, pairs come from the full shingle
    * inverted-index self-join. With candidates (the LSH path), the
    * common-shingle count is computed by expanding ONLY the candidate
    * pairs against the per-doc shingle sets — the exhaustive self-join
    * never runs, which is the whole point of LSH at scale.
    */
  private def jaccardVerified(sh: DataFrame, candidates: Option[DataFrame]): DataFrame = {
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val common = candidates match {
      case None =>
        sh.select(col("doc_id").as("doc_a"), col("h"))
          .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("common"))
      case Some(cand) =>
        cand
          .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("common"))
    }
    common
      .join(n.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
      .withColumn("union_sz", col("na") + col("nb") - col("common"))
      .filter(col("common") * JaccardDen >= col("union_sz") * JaccardNum)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("common"),
        (col("common").cast("double") / col("union_sz")).as("jaccard")
      )
  }

  /** C2: n-gram Jaccard near-dup pairs via the shingle inverted index,
    * df-capped (see [[MaxShingleDf]]) so a boilerplate shingle can
    * never become a single-key join explosion. Served from the
    * [[sharedShingleIndex]] parquet artifact (round 15).
    */
  def c2NgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    jaccardVerified(sharedShingleIndex(spark, sfDir), None)

  def c2NgramJaccardCapped(spark: SparkSession, sfDir: String, maxDf: Int): DataFrame =
    jaccardVerified(cappedShingleIndex(spark, sfDir, maxDf).localCheckpoint(), None)

  /** Build-once guard for [[sharedShingleIndex]], keyed by target dir
    * (unique per (application, sfDir) — see [[shingleIndexDir]]).
    */
  private val shingleIndexBuilt = java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** Where the shared df-capped shingle index lands for this
    * (application, sfDir) — s20's artifact layout applied to the
    * c2/c59 index.
    */
  def shingleIndexDir(spark: SparkSession, sfDir: String): String = {
    val app = spark.sparkContext.applicationId
    s"${System.getProperty("java.io.tmpdir")}/graft_shingleindex_${app}_${Integer.toHexString(sfDir.hashCode)}"
  }

  /** The df-capped shingle inverted index as a PERSISTED parquet
    * artifact (round 15, s20's build/serve posture): built once per
    * (application, sfDir) — one documents scan, shingle + df-cap
    * computed once, written as (doc_id, h) longs — and SERVED to both
    * consumers (c2's symmetric Jaccard and c59's containment) as a
    * columnar read. Production shape: the inverted index is the
    * expensive shared structure of the shingle-dedup family; at 100 TB
    * it is built by the ingest pipeline and every detector reads it,
    * rather than each detector re-shingling the corpus. The artifact
    * lives under java.io.tmpdir keyed by applicationId, so a fresh JVM
    * (every driver bench/oracle run) always rebuilds from the parquet
    * inputs — nothing persists across runs. Bench accounting: c2 and
    * c59 are on the `amortized` list (build charged to whichever
    * consumer runs first, in pass 1).
    */
  def sharedShingleIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = shingleIndexDir(spark, sfDir)
    shingleIndexBuilt.synchronized {
      if (!shingleIndexBuilt.contains(dir)) {
        cappedShingleIndex(spark, sfDir, MaxShingleDf).write.mode("overwrite").parquet(dir)
        shingleIndexBuilt.add(dir): Unit
      }
    }
    Tables.parquet(spark, dir)
  }

  /** The df-capped inverted index feeding [[c2NgramJaccardCapped]],
    * un-checkpointed so PlanSpec can assert the cap's physical shape.
    * The hot list = shingles over the df cap: the groupBy pre-reduces
    * each hot key map-side (partial count), so even a shingle in 10^8
    * docs arrives at its reducer as one row per map task; the list
    * itself is tiny by construction (≤ total-shingle-instances / cap),
    * so AQE turns the anti-join into a broadcast. The shuffled
    * fallback is also safe: it partitions both sides by h, and the
    * inverted-index self-join downstream reuses that partitioning.
    */
  def cappedShingleIndex(spark: SparkSession, sfDir: String, maxDf: Int): DataFrame = {
    val sh = shingleHashes(spark, sfDir).localCheckpoint()
    val hot = sh
      .groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h"))
    sh.join(hot, Seq("h"), "left_anti")
  }

  /** Containment threshold (Broder's containment, not Jaccard):
    * C(A,B) = |S(A)∩S(B)| / |S(A)| for the smaller shingle set A.
    * 9/10 in exact integer math — no float boundary.
    */
  val ContainNum = 9
  val ContainDen = 10

  /** C59: asymmetric containment detection (doc-IN-doc) — the member
    * of the dedup family symmetric Jaccard structurally misses: a short
    * document quoted wholesale inside a much longer one has high
    * containment but LOW Jaccard (the union is dominated by the long
    * doc), so c2/c3 never flag it; CommonCrawl-style pipelines dedup
    * these as "subset documents" (Broder 1997's containment measure).
    * Candidates come from the SAME df-capped shingle inverted index as
    * c2 — only docs sharing a shingle ever meet, per-key join work is
    * bounded by cap² — and the verdict is pure integer arithmetic:
    * den·common ≥ num·min(|A|,|B|). Output is the ordered
    * (contained, container) pair, smaller set first (ties → lower id).
    * Note the LSH scale path (c3) does NOT substitute here: MinHash
    * collision probability estimates Jaccard, which is exactly the
    * measure containment escapes — the inverted index (or a
    * containment-aware sketch) is the right structure, which is why
    * this operator keeps c2's machinery rather than c3's.
    */
  def c59Containment(spark: SparkSession, sfDir: String): DataFrame =
    c59ContainmentFrom(sharedShingleIndex(spark, sfDir))

  /** Containment scoring over any (doc_id, h) shingle index — split out
    * so the spec can plant the quotation shape (high containment, low
    * Jaccard) that the gate corpus may not contain naturally.
    */
  def c59ContainmentFrom(sh: DataFrame): DataFrame = {
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val common = sh
      .select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(n.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
      .filter(col("common") * ContainDen >= least(col("na"), col("nb")) * ContainNum)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("doc_small"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a")).as("doc_big"),
        when(col("na") <= col("nb"), col("na")).otherwise(col("nb")).as("n_small"),
        when(col("na") <= col("nb"), col("nb")).otherwise(col("na")).as("n_big"),
        col("common"),
        (col("common").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment")
      )
  }

  /** C3: MinHash + LSH. Signature = 32 permutation-mins of md5-derived
    * shingle hashes; 8 bands of 4 rows hashed to buckets; candidate
    * pairs share a bucket in some band; candidates are then exactly
    * Jaccard-verified. Identical output contract to C2 on corpora whose
    * shingles all fall under C2's df cap (any pair LSH could miss would
    * also be missed by the oracle, which runs the same hash math — and
    * at these parameters P[miss | j ≥ 0.8] < 1e-4).
    */
  /** c3's verified pair set, localCheckpointed and amortized per
    * (application, sfDir) — the same amortization pattern as c24's
    * trained quantizer: a session computing both the pair gate (c3)
    * and anything built on the pair graph (c16's clustering) pays the
    * LSH + exact-verify cost once. Deterministic, so every consumer
    * sees identical rows.
    */
  private val verifiedPairsCache = new graft.core.AppScopedCache[DataFrame]

  def c3MinHashLsh(spark: SparkSession, sfDir: String): DataFrame =
    verifiedPairsCache.getOrElseUpdate(spark.sparkContext, sfDir) {
      c3MinHashLshCompute(spark, sfDir).localCheckpoint()
    }

  /** Per-doc LSH band-key array from an exploded (doc_id, h) shingle
    * frame — the minhash-signature → banding pipeline, shared by the
    * batch candidate join and the streaming admission operator
    * ([[graft.streaming.StreamingOps.streamingLshAdmission]]), so the
    * stream collides in EXACTLY the buckets the batch pass would.
    *
    * Band key = xxhash64 of the band's minhash rows (band index baked
    * in). A 64-bit collision can only ADD a candidate — equal rows
    * always hash equal — and exact Jaccard verification removes it, so
    * the output contract is unchanged while keys stay 8-byte longs.
    */
  def bandKeyFrame(sh: DataFrame): DataFrame = {
    import MinHashParams._
    val mins: Seq[Column] =
      (0 until NumPerms).map(j => min((col("h") * A(j) + B(j)) % P).as(s"m$j"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      xxhash64(lit(b) +: rows: _*)
    }
    sig.select(col("doc_id"), array(bandCols: _*).as("bkeys"))
  }

  /** The banded self-join over a [[bandKeyFrame]] output: every
    * doc pair sharing ≥1 band bucket, each pair kept ONLY in its first
    * matching band — multi-band dedup as a row-local filter in the
    * join stage instead of a distinct() shuffle over every
    * (pair × band) duplicate (zip_with runs over an 8-element array;
    * cheap next to a shuffle).
    */
  private[graft] def lshCandidatePairs(bkeys: DataFrame): DataFrame = {
    val bands = bkeys
      .select(col("doc_id"), col("bkeys"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
    bands
      .select(col("band_idx"), col("bkey"), col("doc_id").as("doc_a"), col("bkeys").as("bkeys_a"))
      .join(
        bands.select(col("band_idx"), col("bkey"), col("doc_id").as("doc_b"), col("bkeys").as("bkeys_b")),
        Seq("band_idx", "bkey")
      )
      .filter(
        col("doc_a") < col("doc_b") &&
          graft.plans.TokenKernels.firstEqIndex(col("bkeys_a"), col("bkeys_b")) === col("band_idx") + 1
      )
      .select(col("doc_a"), col("doc_b"))
  }

  private def c3MinHashLshCompute(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingleHashes(spark, sfDir).localCheckpoint()
    jaccardVerified(sh, Some(lshCandidatePairs(bandKeyFrame(sh))))
  }

  /** c85: the swept Jaccard cutoffs (≥ the verification floor 0.8 —
    * the banding is calibrated for 0.8, so sweeping BELOW it would
    * need a different index; above it the verified pair set contains
    * every candidate by monotonicity).
    */
  val SweepThresholds: Seq[Double] = Seq(0.80, 0.85, 0.90, 0.95)

  /** C85: dedup THRESHOLD SURVIVAL CURVE — what a curation owner reads
    * before fixing "the" near-dup threshold: for each candidate cutoff,
    * how many verified pairs and how many distinct member documents
    * survive. Monotone by construction (every row uses the one paid
    * LSH pass — the amortized c3 pair set — so the whole sweep costs
    * two aggregates of the tiny pair frame; thresholds at or above the
    * banding's calibration floor are exact by pair-set completeness).
    * Threshold spine left-joined so a cutoff that kills every pair
    * still reports its zero row. Cutoff comparisons are double-literal
    * vs the bit-identical jaccard column — engine-identical.
    */
  def c85DedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = c3MinHashLsh(spark, sfDir)
    val spine = pairs.sparkSession
      .range(1)
      .select(explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
    val f = pairs
      .select(explode(array(SweepThresholds.map(lit): _*)).as("threshold"), col("doc_a"), col("doc_b"), col("jaccard"))
      .filter(col("jaccard") >= col("threshold"))
    val pc = f.groupBy(col("threshold")).agg(count(lit(1)).as("np"))
    val dc = f
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).as("nd"))
    spine
      .join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .select(
        col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs")
      )
  }

  /** C34: cross-source near-duplicates — the syndication signal. The
    * amortized c3 pair set joined back to each member's source; pairs
    * whose members share a source are dropped (intra-site boilerplate),
    * leaving content that traveled BETWEEN sources — what a training
    * mix deduplicates first because it is overrepresented exactly in
    * proportion to its syndication. Costs two hash joins of the tiny
    * pair frame against a two-column scan on top of the already-paid
    * LSH pass.
    */
  def c34CrossSourceNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    c3MinHashLsh(spark, sfDir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .filter(col("source_a") =!= col("source_b"))
      .select(col("doc_a"), col("doc_b"), col("source_a"), col("source_b"), col("jaccard"))
  }

  /** C55: incremental NEAR-dup admission — c26's ingestion contract at
    * near-duplicate granularity, closing the dedup matrix (exact×near,
    * batch×incremental): a new batch (c26's doc_id % 10 split) is
    * checked against the already-curated history, and a batch doc is
    * REJECTED when it near-duplicates (verified Jaccard ≥ 0.8) a
    * history doc or an EARLIER batch doc (the batch-canonical rule —
    * c26's keep-min at near-dup granularity). Output is the rejection
    * list (∝ duplication, not corpus): per rejected doc, how many
    * history vs earlier-batch partners blocked it and its smallest
    * blocking partner — what an ingestion pipeline logs and what the
    * admitted set is the complement of.
    *
    * Rides the amortized c3 pair set (the banded LSH + exact-verify
    * pass, paid once per session) exactly like c34: the incremental
    * question is a FILTER over the symmetric pair membership, two tiny
    * aggregations and one broadcast join against the lang projection —
    * nothing new shuffles. At steady state the same shape runs with
    * history's band keys as the persisted index (c44's posture: the
    * 100 TB side pre-banded on disk, only the batch computes signatures).
    */
  def c55NearDupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    c55NearDupIncrementalFrom(
      c3MinHashLsh(spark, sfDir),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
      graft.operators.Sampling.IncrEvery
    )

  /** The admission verdict over ANY verified pair frame — split out so
    * specs can plant intra-batch pairs (absent from the gate corpus)
    * and so a production caller can feed pairs from a persisted index.
    */
  def c55NearDupIncrementalFrom(pairs: DataFrame, docs: DataFrame, every: Int): DataFrame = {
    val mem = pairs
      .select(col("doc_a").as("d"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
    mem
      // blocking partners only: history members, or batch members that
      // precede this doc (the later member of an intra-batch pair is
      // the one rejected — min-id canonical, c1/c26's rule)
      .filter(col("d") % every === 0 && (col("o") % every =!= 0 || col("o") < col("d")))
      .groupBy(col("d").as("doc_id"))
      .agg(
        count(when(col("o") % every =!= 0, 1)).as("n_hist_partners"),
        count(when(col("o") % every === 0, 1)).as("n_batch_partners"),
        min(col("o")).as("min_partner")
      )
      .join(docs, "doc_id")
      .select(
        col("doc_id"),
        col("lang"),
        col("n_hist_partners"),
        col("n_batch_partners"),
        col("min_partner")
      )
  }

  /** S20 index location, unique per (application, sfDir) like
    * Formats' scratch dirs; built once and reused within the app.
    */
  private val bandIndexBuilt = java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** S20: PERSISTED near-dup band index — the steady-state deployment
    * c55's doc promises (c44's posture at near-dup granularity): the
    * 100 TB history side is pre-banded ON DISK as a (doc_id, band-key
    * array) parquet table, so admitting an ingestion batch recomputes
    * signatures for THE BATCH ONLY — history text is never re-shingled,
    * re-hashed or re-banded on the ingest path. Build: one pass over
    * history writes BOTH index artifacts — the band keys (8 longs per
    * doc, ~64 bytes/doc regardless of document size) and the distinct
    * shingle sets (the verification side: |shingles| longs per doc,
    * still hash-sized, never text-sized). Serve: the batch's band keys
    * probe the band index with the same keyed (band_idx, bkey) join
    * and first-matching-band dedup as the batch detector, plus the
    * batch×batch self-join; exact Jaccard verification reads HISTORY
    * shingles from the persisted index and computes shingles for the
    * batch only — end to end, no history document is touched on the
    * ingest path. The verdict frame is [[c55NearDupIncrementalFrom]]'s — row-for-row
    * identical to the from-scratch c55 run, so c55's oracle gates this
    * query directly; the spec asserts the serve plan reads the index
    * parquet and computes NO history signatures.
    */
  /** Where s20's persisted band index lands for this (application,
    * sfDir) — the same dir the streaming admission leg loads as its
    * static side.
    */
  def s20IndexDir(spark: SparkSession, sfDir: String): String = {
    val app = spark.sparkContext.applicationId
    s"${System.getProperty("java.io.tmpdir")}/graft_bandindex_${app}_${Integer.toHexString(sfDir.hashCode)}"
  }

  def s20NearDupIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val every = graft.operators.Sampling.IncrEvery
    val dir = s20IndexDir(spark, sfDir)
    bandIndexBuilt.synchronized {
      if (!bandIndexBuilt.contains(dir)) {
        shingleHashes(spark, sfDir)
          .filter(col("doc_id") % every =!= 0)
          .write
          .mode("overwrite")
          .parquet(s"$dir/sh")
        bandKeyFrame(spark.read.parquet(s"$dir/sh")).write.mode("overwrite").parquet(s"$dir/bands")
        bandIndexBuilt.add(dir): Unit
      }
    }
    serveNearDupIndex(spark, sfDir, dir, every)
  }

  /** Probe (doc_id, bkeys) rows into a persisted band index: keyed join
    * on (band_idx, bkey), each (probe doc, history doc) pair kept only
    * in its FIRST matching band (row-local zip_with dedup — no
    * distinct() over (pair × band) duplicates). Emits raw
    * (doc_id, doc_h) suspect pairs.
    *
    * ONE function, two deployments: [[serveNearDupIndex]] applies it to
    * a batch frame; applied to a STREAMING frame it is the stream-static
    * admission leg against history
    * ([[graft.streaming.StreamingOps.streamingIndexedAdmission]]) — the
    * identical plan incrementalized, so stream verdicts match the batch
    * serve row-for-row by construction (StreamingSpec asserts it
    * anyway).
    */
  def indexCrossPairs(probeKeys: DataFrame, index: DataFrame): DataFrame = {
    val probe = probeKeys
      .select(col("doc_id"), col("bkeys"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
    val indexed = index
      .select(col("doc_id").as("doc_h"), col("bkeys").as("bkeys_h"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
    probe
      .join(indexed, Seq("band_idx", "bkey"))
      .filter(
        graft.plans.TokenKernels.firstEqIndex(col("bkeys"), col("bkeys_h")) === col("band_idx") + 1
      )
      .select(col("doc_id"), col("doc_h"))
  }

  /** The serve half of s20, split out so the spec can drive it in
    * isolation (fresh read of a prebuilt index) and audit its plan.
    */
  def serveNearDupIndex(spark: SparkSession, sfDir: String, indexDir: String, every: Int): DataFrame = {
    val index = Tables.parquet(spark, s"$indexDir/bands")
    // batch shingles computed ONCE (checkpoint) — they feed the band
    // keys AND the verification side
    val batchSh = shingleHashes(spark, sfDir).filter(col("doc_id") % every === 0).localCheckpoint()
    val batchKeys = bandKeyFrame(batchSh).localCheckpoint()
    val crossPairs = indexCrossPairs(batchKeys, index)
      .select(
        least(col("doc_id"), col("doc_h")).as("doc_a"),
        greatest(col("doc_id"), col("doc_h")).as("doc_b")
      )
    // batch × batch: the ordinary banded self-join over the batch keys
    val batchPairs = lshCandidatePairs(batchKeys)
    val cand = crossPairs.unionByName(batchPairs)
    // history shingles come FROM THE INDEX — the serve path never
    // re-shingles a history document
    val verified = jaccardVerified(Tables.parquet(spark, s"$indexDir/sh").unionByName(batchSh), Some(cand))
    c55NearDupIncrementalFrom(
      verified,
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
      every
    )
  }

  /** C76: the DEDUP CARD — one row summarizing every duplication axis
    * a corpus release documents (the dedup sibling of c62's dataset
    * card): exact-dup docs (whole-text hash), verified near-dup pairs,
    * near-dup clusters and their member count, prefix/truncation
    * families, and cross-document chunk duplication with its corpus
    * ratio. Pure composition: every member is a proven gate operator,
    * the near-dup members ride the amortized c3 pair set, and each
    * contributes ONE bounded aggregate; the single-row frames cross at
    * the end (5 one-row broadcasts — the c14 idiom, not a data join).
    * The one number a training-mix review asks for first lives here.
    */
  def c76DedupCard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // the exact-dup counters and the prefix families share ONE text
    // pass: both read whole-text md5s, so the per-doc prefixBase frame
    // (3 narrow columns, text left behind at the scan) materializes
    // once and feeds both members — the card's five corpus reads fold
    // to two (this one + c38's chunk pipeline; the near-dup members
    // ride the amortized c3 pair set)
    val base = prefixBase(docs.select(col("doc_id"), col("text"))).localCheckpoint()
    val ex = base.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("full_md5")).as("n_distinct_texts")
    )
    val pr = c3MinHashLsh(spark, sfDir).agg(count(lit(1)).as("n_neardup_pairs"))
    val cl = graft.operators.TextAnalysis
      .c16DedupClusters(spark, sfDir)
      .agg(count(lit(1)).as("n_clustered_docs"), count_distinct(col("cluster_id")).as("n_clusters"))
    val pf = prefixFamilies(base).agg(count(lit(1)).as("n_prefix_families"))
    val ch = graft.operators.TextAnalysis
      .c38ChunkDedup(spark, sfDir)
      .agg(sum(col("n_chunks")).as("n_chunks_total"), sum(col("n_dup_chunks")).as("n_dup_chunks"))
    ex.crossJoin(pr)
      .crossJoin(cl)
      .crossJoin(pf)
      .crossJoin(ch)
      .select(
        col("n_docs"),
        col("n_distinct_texts"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dup_docs"),
        col("n_neardup_pairs"),
        col("n_clustered_docs"),
        col("n_clusters"),
        col("n_prefix_families"),
        col("n_chunks_total"),
        col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks_total")).as("dup_chunk_ratio")
      )
  }

  /** Per-doc 60-bit SimHash signature: weighted bit votes over
    * md5-derived token hashes (weight = token multiplicity), computed
    * entirely within the row by [[graft.plans.SimHashOfTokens]] — the
    * signature is a scalar function of the document's own token array,
    * so the explode → count → aggregate pipeline (two token-level
    * shuffles) collapses to a narrow scan with zero shuffles. Bit
    * semantics unchanged (the oracle still runs the 60-column SUM(CASE)
    * formulation; [[graft.plans.SimHashAgg]] remains the SQL-surface
    * aggregate for pre-counted inputs).
    */
  def simHashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), md5Tokens(tokens(col("text")), 15).as("hts"))
      .select(
        col("doc_id"),
        graft.plans.SimHashOfTokens.simHashOfTokens(col("hts"), SimHashBits).as("simhash")
      )

  /** C4: SimHash near-dup pairs, hamming ≤ 8. Candidates come from the
    * 9-block pigeonhole join (exhaustive for the threshold), then exact
    * hamming via bit_count(xor). No O(n²) stage.
    */
  def c4SimHash(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpoint: signatures are (doc_id, long) — tiny — and the
    // barrier keeps the join's inferred isnotnull(sig) filter from
    // being substituted below the projection, which would evaluate
    // the signature expression twice per row per side (the old
    // aggregate formulation was an implicit barrier; the zero-shuffle
    // scalar formulation needs an explicit one)
    val sig = simHashSignatures(spark, sfDir).localCheckpoint()
    // block widths: 60 bits over 9 blocks → 6 blocks of 7 bits, 3 of 6
    val widths = Seq.fill(6)(7) ++ Seq.fill(3)(6)
    val offsets = widths.scanLeft(0)(_ + _).init
    val blockCols = widths.zip(offsets).zipWithIndex.map { case ((w, off), i) =>
      struct(
        lit(i).as("block_idx"),
        shiftright(col("simhash"), off).bitwiseAND((1L << w) - 1).as("bval")
      )
    }
    val blocks = sig
      .select(col("doc_id"), col("simhash"), explode(array(blockCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.block_idx").as("bi"), col("b.bval").as("bv"))

    // a pair sharing several blocks is kept ONLY at its first matching
    // block — pure bit math on xor(sig_a, sig_b), so the whole
    // multi-block dedup AND the hamming threshold run as one row-local
    // filter inside the join stage: no distinct() shuffle, nothing
    // downstream of the join but the final projection
    val xorSig = col("sig_a").bitwiseXOR(col("sig_b"))
    val firstBlock = widths.zip(offsets).zipWithIndex.reverse
      .foldLeft(lit(-1): Column) { case (tail, ((w, off), i)) =>
        when(shiftright(xorSig, off).bitwiseAND((1L << w) - 1) === 0, lit(i)).otherwise(tail)
      }
    blocks
      .select(col("bi"), col("bv"), col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(
        blocks.select(col("bi"), col("bv"), col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
        Seq("bi", "bv")
      )
      .filter(col("doc_a") < col("doc_b") && col("bi") === firstBlock)
      .withColumn("hamming", bit_count(xorSig).cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** c92 geometry: a 120-bit signature as TWO independent 60-bit
    * simhash halves (second hash family = salted md5 — the standard
    * multi-hash widening), blocked for the pigeonhole join as 5 blocks
    * of 12 bits PER HALF (10 blocks ⇒ any pair within hamming ≤ 9
    * shares an intact block; the served threshold stays
    * [[HammingMax]] = 8).
    */
  val WideBlocksPerHalf = 5
  val WideBlockBits = 12
  val WideSalt = "w2#"

  /** Per-doc 120-bit signature: ([[simHashSignatures]]'s 60-bit half,
    * plus a second half over the salted hash family) — both computed
    * row-locally in the one scan.
    */
  def simHashSignaturesWide(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5Tokens(tokens(col("text")), 15).as("h1"),
        md5Tokens(tokens(col("text")), 15, salt = WideSalt).as("h2")
      )
      .select(
        col("doc_id"),
        graft.plans.SimHashOfTokens.simHashOfTokens(col("h1"), SimHashBits).as("s1"),
        graft.plans.SimHashOfTokens.simHashOfTokens(col("h2"), SimHashBits).as("s2")
      )

  /** C92: SimHash near-dup pairs at CORPUS scale — c4's contract
    * (exact hamming ≤ [[HammingMax]] pairs from an exhaustive
    * pigeonhole candidate join) re-geometried for growth. c4's fixed
    * 60-bit/9-block layout leaves only 6-7-bit block values, so its
    * per-(block, value) buckets — and the candidate join — grow as
    * n²/2^7: measured exponent 2.34 at the sf1 scale run, the
    * Manku/Jain/Sarma 2007 table-width trade surfacing exactly as
    * published. This variant widens the signature instead of capping
    * buckets (caps would break candidate exhaustiveness): 120 bits
    * from two independent hash families, 10 blocks of 12 bits ⇒
    * buckets shrink by 2^5-2^6, candidates by the same factor, and
    * the pigeonhole guarantee STRENGTHENS (any pair within hamming 9
    * shares a block; served threshold 8). The same first-matching-block
    * bit-math dedup runs inside the join — no distinct(), nothing
    * downstream but the projection. Semantics: hamming ≤ 8 over 120
    * bits is a (deliberately) stricter near-dup bar than c4's 8-of-60 —
    * both calibrations stay served, the oracle gates this one exactly.
    */
  def c92DedupSimhashWide(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = simHashSignaturesWide(spark, sfDir).localCheckpoint()
    val halves = Seq(("s1", "x1"), ("s2", "x2"))
    val blockCols = for {
      (h, hi) <- halves.zipWithIndex
      i <- 0 until WideBlocksPerHalf
    } yield struct(
      lit(hi * WideBlocksPerHalf + i).as("block_idx"),
      shiftright(col(h._1), i * WideBlockBits).bitwiseAND((1L << WideBlockBits) - 1).as("bval")
    )
    val blocks = sig
      .select(col("doc_id"), col("s1"), col("s2"), explode(array(blockCols: _*)).as("b"))
      .select(col("doc_id"), col("s1"), col("s2"), col("b.block_idx").as("bi"), col("b.bval").as("bv"))
    val x1 = col("s1a").bitwiseXOR(col("s1b"))
    val x2 = col("s2a").bitwiseXOR(col("s2b"))
    val firstBlock = (for {
      ((_, x), hi) <- halves.zip(Seq(x1, x2)).zipWithIndex
      i <- 0 until WideBlocksPerHalf
    } yield (hi * WideBlocksPerHalf + i, x, i)).reverse
      .foldLeft(lit(-1): Column) { case (tail, (idx, x, i)) =>
        when(shiftright(x, i * WideBlockBits).bitwiseAND((1L << WideBlockBits) - 1) === 0, lit(idx))
          .otherwise(tail)
      }
    // hamming-first conjunct order (c93's discipline): the two-popcount
    // test rejects ~every candidate before the 10-branch dedup fold
    // runs, and the single filter sits directly on the join so it
    // becomes the join condition — failed candidates never materialize
    blocks
      .select(col("bi"), col("bv"), col("doc_id").as("doc_a"), col("s1").as("s1a"), col("s2").as("s2a"))
      .join(
        blocks
          .select(col("bi"), col("bv"), col("doc_id").as("doc_b"), col("s1").as("s1b"), col("s2").as("s2b")),
        Seq("bi", "bv")
      )
      .filter(
        col("doc_a") < col("doc_b") &&
          (bit_count(x1) + bit_count(x2)) <= HammingMax &&
          col("bi") === firstBlock
      )
      .select(col("doc_a"), col("doc_b"), (bit_count(x1) + bit_count(x2)).cast("long").as("hamming"))
  }

  /** Census floor for c93's per-bucket refine decision: buckets of ≤
    * this many members never refine (a 32-member bucket's flat fan is
    * 32²/2 — below any re-key payoff) and are excluded from the
    * sub-bucket census, bounding its cost to the warm members' re-key
    * stream. Same floor bounds the level-2 sub-sub census (only
    * sub-buckets > this size get half-block spread measured) — that
    * restriction is the load-bearing part: round 15's fused-census A/B
    * (see [[refinePlan]]) showed removing it costs 16× the census
    * input for one saved scan.
    */
  val HotBucketFloor = 32

  /** Level-2 half-block width: the doubly-hot re-key slices the 8
    * remaining full blocks into 16 sub-keys of this many bits.
    */
  val WideHalfBits = WideBlockBits / 2

  /** C93: c92's pair-set contract served through Manku/Jain/Sarma
    * 2007's RECURSIVE refinement — the exactness-preserving answer to
    * hot buckets (a per-bucket cap would silently drop candidates).
    * The observation: at threshold [[HammingMax]] = 8 over 10 blocks,
    * ≤ 8 differing bits touch ≤ 8 blocks, so every qualifying pair has
    * at least TWO intact blocks. A bucket therefore doesn't need its
    * members self-joined:
    * re-keying them on each of their 9 OTHER blocks (the "remaining
    * bits") still meets every qualifying pair — at the second intact
    * block — and turns the bucket's n² fan-out into Σ sub-bucket².
    * WHICH buckets refine is a per-bucket MEASURED cost decision
    * ([[refinePlan]], round 12): refine iff
    * Σ_sub min(sub², 16·sub + Σ subsub²) + rekey < n², where rekey =
    * Σ sub counts the re-key rows actually produced (later-blocks-only
    * — see refinePlan's sbi > bi note) and each sub-bucket is priced
    * at the cheaper of its flat self-join and its measured level-2
    * rescue. The pair OUTPUT is invariant to the choice (the emit-once
    * proof below never uses it), so the decision is pure cost
    * arbitration and adapts to the geometry instead of a tuned
    * threshold.
    *
    * LEVEL 2 (round 12, Manku's FULL multi-level form): a sub-bucket
    * (bi, bv, sbi, sbv) inside a refining bucket goes doubly hot iff
    * its own measured half-block re-key prices cheaper than its flat
    * self-join — 16·sn + Σ subsub² < sn² (refinePlan's hot2Keys; a
    * Zipf head can saturate two blocks at once, and only measurement
    * distinguishes that from an exact-dup family whose n² is the
    * output itself). A doubly-hot sub-bucket re-keys once more. A
    * third FULL
    * intact block is NOT guaranteed at threshold 8 — the 8 differing
    * bits can occupy 8 distinct blocks, leaving exactly the two intact
    * blocks already consumed — so the provably exhaustive level-2 key
    * is FINER, not another block: the 8 remaining blocks split into 16
    * half-blocks of [[WideHalfBits]] = 6 bits, where ≤ 8 differing
    * bits leave ≥ 8 intact half-blocks (pigeonhole with room). Each
    * doubly-hot member re-keys on its 16 remaining half-blocks and the
    * pair is emitted at the FIRST intact remaining half-block —
    * sub-sub-buckets shrink by 2^6 per level and the recursion
    * terminates at depth 2 by construction (this is the width-halving
    * rung of Manku's variable-width table family; a further level
    * would halve again to 3-bit keys).
    *
    * Hot/cold (and hot-hot/hot-cold) slices partition the key space,
    * so the once-only emit stays pure row-local bit math (no
    * distinct()): a pair lives in the cold path iff its FIRST intact
    * block's bucket is cold (emit at bi = first); else in the hot-cold
    * path iff its (first, second-intact) sub-bucket is cold (emit at
    * bi = first, sbi = second); else in the hot-hot path (emit at
    * bi = first, sbi = second, hbi = first intact remaining
    * half-block, which exists by the pigeonhole above). Ceiling note:
    * refinement caps the servable threshold at #blocks − 2 differing
    * bits (= 8 here) — exactly the served bar, and the level-2 key
    * needs ≤ 16 − 1 differing bits, far above it.
    */
  /** The wide-signature block frame: one row per (doc, block) with the
    * signatures carried — shared by the operator and its specs.
    */
  private[graft] def wideBlocks(sig: DataFrame): DataFrame = {
    val nBlocks = 2 * WideBlocksPerHalf
    val blockCols = (0 until nBlocks).map { idx =>
      val half = if (idx < WideBlocksPerHalf) col("s1") else col("s2")
      struct(
        lit(idx).as("block_idx"),
        shiftright(half, (idx % WideBlocksPerHalf) * WideBlockBits)
          .bitwiseAND((1L << WideBlockBits) - 1)
          .as("bval")
      )
    }
    sig
      .select(col("doc_id"), col("s1"), col("s2"), explode(array(blockCols: _*)).as("b"))
      .select(col("doc_id"), col("s1"), col("s2"), col("b.block_idx").as("bi"), col("b.bval").as("bv"))
  }

  /** The (bi, bv) buckets c93 refines — a MEASURED per-bucket cost
    * decision, not a global threshold (round 12; the single source for
    * the operator and the engagement specs). Flat cost of a bucket of
    * n members is its self-join fan n²; refined cost is the re-key
    * volume 9n plus the sub-bucket join fan Σ sub². Refine exactly
    * where measurement says it wins: sub_sq + 9n < n². The census is
    * one slim aggregate over the warm members' re-key stream (no
    * signatures, map-side combined, keys bounded by blocks × 2^bits
    * per level) — and it is precisely the quantity the decision needs,
    * so neither geometry regime needs tuning: on Zipfian natural text
    * sub-buckets spread ~2^12 and every warm bucket refines (measured
    * sf10: Σ flat 5.56e9 → Σ refined 3.2e8, all 22 740 warm buckets
    * win); on the adversarial 31-word geometry sub-bucket values
    * correlate, sub_sq stays near n², and the census correctly leaves
    * those buckets flat — the round-10 sf3 regression (a constant
    * threshold re-keyed the whole corpus for nothing) cannot recur by
    * construction. [[HotBucketFloor]] bounds the census to buckets
    * where refinement could possibly pay (n² > overhead floor).
    */
  private def wideBlockStructCols: Seq[Column] =
    (0 until 2 * WideBlocksPerHalf).map { idx =>
      val half = if (idx < WideBlocksPerHalf) col("s1") else col("s2")
      struct(
        lit(idx).as("block_idx"),
        shiftright(half, (idx % WideBlocksPerHalf) * WideBlockBits)
          .bitwiseAND((1L << WideBlockBits) - 1)
          .as("bval")
      )
    }

  private def wideHalfStructCols: Seq[Column] =
    (0 until 4 * WideBlocksPerHalf).map { hb =>
      val blk = hb / 2
      val half = if (blk < WideBlocksPerHalf) col("s1") else col("s2")
      struct(
        lit(hb).as("half_idx"),
        shiftright(half, (blk % WideBlocksPerHalf) * WideBlockBits + (hb % 2) * WideHalfBits)
          .bitwiseAND((1L << WideHalfBits) - 1)
          .as("hval")
      )
    }

  /** c93's measured refine plan (round 12): per-BUCKET and
    * per-SUB-BUCKET cost decisions with the level-2 rescue priced in.
    * A bucket of n members pays n² flat; one-level re-keying pays
    * Σ sub² + n·(re-key rows) — but where a SECOND block correlates
    * with the bucket's (the Zipf head drives several block values
    * jointly), sub-buckets stay ≈ n and one level buys nothing, while
    * the 6-bit HALF-blocks of the 8 remaining blocks still spread by
    * 2^6. So the estimate prices each sub-bucket at
    * min(sub², 16·sub + Σ subsub²) — its flat self-join vs its
    * half-block re-key, both MEASURED (the sub-sub census runs only
    * over sub-buckets > [[HotBucketFloor]], where the rescue could
    * matter) — and a bucket refines iff re-key + Σ estimates < n².
    * Exact-dup families price out correctly: every level is ≈ n there
    * (copies agree on all blocks AND all halves), min picks flat, and
    * their n² IS the output being emitted — irreducible by any
    * bucketing. Returns (warmMembers — the checkpointed ×(blocks>bi)
    * re-key frame the census and the hot path share —, refineKeys,
    * hot2Keys), decisions checkpointed (each re-referenced by both
    * self-join sides; un-checkpointed the census re-ran 5× per
    * action, measured).
    */
  private[graft] def refinePlan(blocks: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val sizes = blocks
      .groupBy(col("bi"), col("bv"))
      .agg(count(lit(1)).as("nn"))
      .filter(col("nn") > HotBucketFloor)
    // sub-keys only on blocks AFTER bi: the emit point (first intact,
    // second intact) always has second > first, so re-keying on lower
    // blocks can never host an emit — halving both the census and the
    // hot path's re-key volume
    val warmMembers = blocks
      .join(broadcast(sizes.select(col("bi"), col("bv"))), Seq("bi", "bv"))
      .select(col("doc_id"), col("s1"), col("s2"), col("bi"), col("bv"), explode(array(wideBlockStructCols: _*)).as("sb"))
      .select(
        col("doc_id"), col("s1"), col("s2"), col("bi"), col("bv"),
        col("sb.block_idx").as("sbi"), col("sb.bval").as("sbv")
      )
      .filter(col("sbi") > col("bi"))
      .localCheckpoint()
    // TWO-SCAN census, kept after an honest round-15 A/B (b23's
    // protocol). The r14-verdict suggestion — fuse both decision levels
    // into one finest-key half-block census (sn = Σhn/16, ss_sq = Σhn²,
    // floor re-applied as a predicate; bit-identical decision inputs)
    // — was implemented and MEASURED SLOWER: solo c93 at sf0.1 went
    // ~3.3 s → 6.42 s (5-pass median, 32c). The geometry explains it
    // (OPTIMIZATION_r15.md §8): warmMembers is ~102k rows but big sub-buckets
    // hold only a few thousand members, so the old level-2 census
    // explodes ~16× a FEW-THOUSAND-row slice while the fused form
    // explodes 16× EVERYTHING into a ~1.6M-row nearly-unique-key
    // aggregate — 16× the census input to save one scan + one
    // broadcast join + one checkpoint job. Natural-text corpora spread
    // sub-buckets even thinner (sf10: ~2^12 spread), so the restricted
    // census wins at every scale that matters.
    val subSizes = warmMembers
      .groupBy(col("bi"), col("bv"), col("sbi"), col("sbv"))
      .agg(count(lit(1)).as("sn"))
      .localCheckpoint() // feeds the estimate AND the level-2 decision
    val bigSubs = subSizes.filter(col("sn") > HotBucketFloor)
    // sub-sub census: half-block spread of each big sub-bucket's
    // members (16 halves per member, the two consumed blocks excluded)
    val ssq = warmMembers
      .join(bigSubs.select(col("bi"), col("bv"), col("sbi"), col("sbv")), Seq("bi", "bv", "sbi", "sbv"))
      .select(
        col("bi"), col("bv"), col("sbi"), col("sbv"),
        explode(array(wideHalfStructCols: _*)).as("hb")
      )
      .select(
        col("bi"), col("bv"), col("sbi"), col("sbv"),
        col("hb.half_idx").as("hbi"), col("hb.hval").as("hbv")
      )
      .filter(shiftright(col("hbi"), 1) =!= col("bi") && shiftright(col("hbi"), 1) =!= col("sbi"))
      .groupBy(col("bi"), col("bv"), col("sbi"), col("sbv"), col("hbi"), col("hbv"))
      .agg(count(lit(1)).as("hn"))
      .groupBy(col("bi"), col("bv"), col("sbi"), col("sbv"))
      .agg(sum(col("hn") * col("hn")).as("ss_sq"))
    val subCost = subSizes
      .join(ssq, Seq("bi", "bv", "sbi", "sbv"), "left")
      .select(
        col("bi"), col("bv"), col("sbi"), col("sbv"), col("sn"), col("ss_sq"),
        when(
          col("ss_sq").isNotNull && lit(16L) * col("sn") + col("ss_sq") < col("sn") * col("sn"),
          lit(16L) * col("sn") + col("ss_sq")
        ).otherwise(col("sn") * col("sn")).as("est")
      )
      .localCheckpoint() // re-referenced by the bucket estimate and hot2Keys
    val refineKeys = sizes
      .join(
        subCost.groupBy(col("bi"), col("bv")).agg(sum(col("est")).as("refined_est"), sum(col("sn")).as("rekey")),
        Seq("bi", "bv")
      )
      .filter(col("refined_est") + col("rekey") < col("nn") * col("nn"))
      .select(col("bi"), col("bv"))
      .localCheckpoint()
    val hot2Keys = subCost
      .join(broadcast(refineKeys), Seq("bi", "bv"))
      .filter(col("ss_sq").isNotNull && lit(16L) * col("sn") + col("ss_sq") < col("sn") * col("sn"))
      .select(col("bi"), col("bv"), col("sbi"), col("sbv"))
      .localCheckpoint()
    (warmMembers, refineKeys, hot2Keys)
  }

  /** Level-1 refine keys alone (spec entry point). */
  private[graft] def refineBucketKeys(blocks: DataFrame): DataFrame = refinePlan(blocks)._2

  def c93DedupSimhashRefined(spark: SparkSession, sfDir: String): DataFrame =
    simhashRefinedPairs(simHashSignaturesWide(spark, sfDir))

  /** c93 over any (doc_id, s1, s2) wide-signature frame — split out so
    * the spec can plant bucket geometries that route pairs through
    * each of the three paths (cold / hot-cold / hot-hot).
    */
  def simhashRefinedPairs(sigIn: DataFrame): DataFrame = {
    val sig = sigIn.localCheckpoint()
    val nBlocks = 2 * WideBlocksPerHalf
    def blockVal(half: Column, i: Int): Column =
      shiftright(half, i * WideBlockBits).bitwiseAND((1L << WideBlockBits) - 1)
    val blocks = wideBlocks(sig).localCheckpoint() // feeds the census, the decision, and both path splits
    // the refine/flat key set is CORPUS-SIZE-INDEPENDENT: at most
    // nBlocks * 2^WideBlockBits (= 40 960) buckets exist, so the
    // refined subset always broadcasts — the block frame is classified
    // by a map-side hash probe instead of a full-frame window (which
    // would sort all 10n rows inside each bucket)
    val (warmMembers, refineKeys, hot2KeysRaw) = refinePlan(blocks)
    val hotKeys = refineKeys.withColumn("is_hot", lit(true))
    val sized = blocks.join(broadcast(hotKeys), Seq("bi", "bv"), "left")
    val cold = sized.filter(col("is_hot").isNull).drop("is_hot")
    // refined members re-keyed on every LATER block (the re-key frame
    // is the census's own checkpoint — built once, shared)
    val hot = warmMembers.join(broadcast(refineKeys), Seq("bi", "bv"))
    // LEVEL 2: sub-buckets whose half-block re-key measures cheaper
    // than their flat self-join (the cost decision from refinePlan)
    val hot2Keys = hot2KeysRaw.withColumn("is_hot2", lit(true))
    val sized2 = hot.join(broadcast(hot2Keys), Seq("bi", "bv", "sbi", "sbv"), "left")
    val hotCold = sized2.filter(col("is_hot2").isNull).drop("is_hot2")
    // half-block hb covers bits [hb%2 * 6, +6) of full block hb/2
    val nHalves = 2 * nBlocks
    def halfVal(half: Column, blockInHalf: Int, sub: Int): Column =
      shiftright(half, blockInHalf * WideBlockBits + sub * WideHalfBits)
        .bitwiseAND((1L << WideHalfBits) - 1)
    val halfCols = (0 until nHalves).map { hb =>
      val blk = hb / 2
      val half = if (blk < WideBlocksPerHalf) col("s1") else col("s2")
      struct(lit(hb).as("half_idx"), halfVal(half, blk % WideBlocksPerHalf, hb % 2).as("hval"))
    }
    val hotHot = sized2
      .filter(col("is_hot2").isNotNull)
      .drop("is_hot2")
      .select(
        col("doc_id"), col("s1"), col("s2"), col("bi"), col("bv"), col("sbi"), col("sbv"),
        explode(array(halfCols: _*)).as("hb")
      )
      .select(
        col("doc_id"), col("s1"), col("s2"), col("bi"), col("bv"), col("sbi"), col("sbv"),
        col("hb.half_idx").as("hbi"), col("hb.hval").as("hbv")
      )
      // only the 16 half-blocks of REMAINING blocks (hb/2 ∉ {bi, sbi})
      .filter(shiftright(col("hbi"), 1) =!= col("bi") && shiftright(col("hbi"), 1) =!= col("sbi"))

    // ——— HAMMING-FIRST emit filter, evaluated inside the join ———
    // Per-candidate cost decides this operator's wall time (the fan is
    // cost-optimal by the measured arbitration above; at natural sf10
    // it is ~1.3e9 rows). Two formulations failed before this one:
    // nested when-folds re-ran the block-xor chain ~12× per row
    // (~385 s of a 530 s run), and STAGED mask projections forced the
    // join to materialize every candidate row before filtering. The
    // fix is ordering + placement: keep the whole test as ONE filter
    // directly on the join (Catalyst pushes it into the join
    // condition, so candidates that fail never materialize), and put
    // `hamming ≤ max` — two xors + two popcounts, rejecting ~all rows
    // — BEFORE the emit-once arithmetic, which then runs only on the
    // handful of true near-dup sightings. Conjuncts short-circuit in
    // codegen, so the common-case candidate costs ~a dozen ALU ops.
    // Emit-once stays lowest-set-bit mask math (no nested folds):
    // joined rows share the bucket block so imask ≠ 0; hot rows share
    // two, so the cleared mask is ≠ 0 where `si` is read.
    val x1 = col("s1a").bitwiseXOR(col("s1b"))
    val x2 = col("s2a").bitwiseXOR(col("s2b"))
    val hamOk = (bit_count(x1) + bit_count(x2)) <= HammingMax
    val imask = (0 until nBlocks)
      .map { i =>
        val x = if (i < WideBlocksPerHalf) x1 else x2
        when(blockVal(x, i % WideBlocksPerHalf) === 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)
    val lsb = imask.bitwiseAND(-imask)
    val fiOk = col("bi") === bit_count(lsb - 1)
    val m2 = imask - lsb
    val siOk = col("sbi") === bit_count(m2.bitwiseAND(-m2) - 1)
    // first intact half-block among REMAINING blocks (hot-hot only —
    // a 20-bit mask with the row's (bi, sbi) blocks zeroed; ≥ 8 of the
    // 16 remaining half-blocks are intact at hamming ≤ 8, so ≠ 0)
    val hmask = (0 until nHalves)
      .map { hb =>
        val blk = hb / 2
        val x = if (blk < WideBlocksPerHalf) x1 else x2
        when(
          halfVal(x, blk % WideBlocksPerHalf, hb % 2) === 0 &&
            lit(blk) =!= col("bi") && lit(blk) =!= col("sbi"),
          lit(1L << hb)
        ).otherwise(lit(0L))
      }
      .reduce(_ + _)
    val hfiOk = col("hbi") === bit_count(hmask.bitwiseAND(-hmask) - 1)
    val hamming = (bit_count(x1) + bit_count(x2)).cast("long")

    def sides(df: DataFrame, keys: Seq[String]): (DataFrame, DataFrame) = (
      df.select((keys.map(col) :+ col("doc_id").as("doc_a") :+ col("s1").as("s1a") :+ col("s2").as("s2a")): _*),
      df.select((keys.map(col) :+ col("doc_id").as("doc_b") :+ col("s1").as("s1b") :+ col("s2").as("s2b")): _*)
    )
    val out = Seq(col("doc_a"), col("doc_b"), hamming.as("hamming"))
    val (ca, cb) = sides(cold, Seq("bi", "bv"))
    val coldPairs = ca
      .join(cb, Seq("bi", "bv"))
      .filter(col("doc_a") < col("doc_b") && hamOk && fiOk)
      .select(out: _*)
    val (ha, hb) = sides(hotCold, Seq("bi", "bv", "sbi", "sbv"))
    val hotColdPairs = ha
      .join(hb, Seq("bi", "bv", "sbi", "sbv"))
      .filter(col("doc_a") < col("doc_b") && hamOk && fiOk && siOk)
      .select(out: _*)
    val (h2a, h2b) = sides(hotHot, Seq("bi", "bv", "sbi", "sbv", "hbi", "hbv"))
    val hotHotPairs = h2a
      .join(h2b, Seq("bi", "bv", "sbi", "sbv", "hbi", "hbv"))
      .filter(col("doc_a") < col("doc_b") && hamOk && fiOk && siOk && hfiOk)
      .select(out: _*)
    coldPairs.unionByName(hotColdPairs).unionByName(hotHotPairs)
  }

  /** Head fingerprint width for c68 — long enough that coincidental
    * prefix collisions are ~impossible in natural text, short enough
    * that a truncated mirror still shares it.
    */
  val HeadTokens = 16

  /** C68: prefix (head) dedup — the truncation/expansion family member
    * of the dedup matrix: a scraped page re-crawled with more (or
    * fewer) paragraphs, a feed item vs its full article, a doc cut at
    * a context limit. Whole-doc hashing (c1) calls these distinct;
    * symmetric Jaccard (c2/c3) misses them when the tails diverge
    * enough; containment (c59) finds quotation but pays the shingle
    * index. The head fingerprint — md5 of the first [[HeadTokens]]
    * tokens — is O(1) per doc: groups sharing a head but with ≥ 2
    * distinct FULL texts are truncation families (exact-copy groups
    * have one full hash and are c1's business, so they are excluded
    * here). Scale: one shuffle of (head_md5, full_md5, doc_id) triples
    * — text never rides the exchange; map-side combine applies; output
    * ∝ duplication.
    */
  def c68PrefixDedup(spark: SparkSession, sfDir: String): DataFrame =
    c68PrefixDedupFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The family detector over any (doc_id, text) frame — split out so
    * the spec can plant an exact-copy-only head group (the gate corpus
    * has truncation families but no exact dups) and prove the HAVING
    * excludes it.
    */
  /** c71 verdict floor: normalized edit similarity at or above this is
    * an edit-level near-dup (the second opinion on the shingle verdict).
    */
  val EditSimThreshold = 0.8

  /** C71: edit-distance verification of near-dup candidates — the
    * exact character-level second opinion on the shingle-level Jaccard
    * verdict (the layering a production dedup runs: cheap LSH prunes
    * the pair space, an expensive exact measure verifies what
    * survives; Levenshtein is O(|a|·|b|) per pair and must NEVER see
    * the raw pair space). Rides the amortized c3 pair set like
    * c34/c55: the only texts that travel are the pair members' —
    * bounded by duplication, not corpus — and they travel inside
    * broadcasts of the tiny pair frame, never a corpus exchange.
    * Levenshtein is unit-cost in both engines, so the distance is
    * integer-exact; the normalized similarity divides two exact longs.
    */
  def c71EditVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val pairs = c3MinHashLsh(spark, sfDir)
    val withA = docs
      .join(broadcast(pairs), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("text").as("ta"))
    docs
      .join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("jaccard"),
        levenshtein(col("ta"), col("text")).cast("long").as("edit_distance"),
        (lit(1.0) - levenshtein(col("ta"), col("text")).cast("double") /
          greatest(length(col("ta")), length(col("text"))).cast("double")).as("edit_sim")
      )
      .withColumn("edit_confirmed", col("edit_sim") >= EditSimThreshold)
  }

  /** c68's per-doc projection — the ONE pass over text the detector
    * needs: (head_md5, full_md5, doc_id). Split out so consumers that
    * also need whole-text hashes (c76's exact-dup counters) share the
    * scan instead of re-hashing the corpus.
    */
  def prefixBase(docs: DataFrame): DataFrame =
    docs.select(
      md5(array_join(slice(tokens(col("text")), 1, HeadTokens), " ")).as("head_md5"),
      md5(col("text")).as("full_md5"),
      col("doc_id")
    )

  def c68PrefixDedupFrom(docs: DataFrame): DataFrame =
    prefixFamilies(prefixBase(docs))

  /** The family aggregate over a [[prefixBase]] frame. */
  def prefixFamilies(base: DataFrame): DataFrame =
    base
      .groupBy(col("head_md5"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("full_md5")).as("n_variants"),
        min(col("doc_id")).as("keep_doc_id")
      )
      .filter(col("n_docs") >= 2 && col("n_variants") >= 2)
}
