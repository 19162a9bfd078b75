package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.hash32
import graft.sources.Tables

import org.apache.spark.sql.Column

/** Training-data selection operators (SURVEY.md §2 C-series):
  * deterministic stratified sampling and the end-to-end corpus
  * curation pipeline that composes the quality / language / dedup /
  * sampling stages.
  *
  * Sampling is hash-Bernoulli — a document is kept iff
  * md5-hash("sample_" + doc_id) mod 1000 falls under its stratum's
  * rate. No RNG state, no seed plumbing: the same document set is
  * selected on any cluster size, any partitioning, any engine (the
  * oracle recomputes the identical md5 arithmetic), and adding data
  * never changes the verdict on existing rows — the properties that
  * make a 100 TB sample reproducible and incrementally extensible.
  */
object Sampling {

  /** Per-mille keep rate per language stratum: downsample the dominant
    * language (en ≈ 44% of the corpus), keep most of the tail — the
    * standard corpus-rebalancing shape.
    */
  val EnRatePerMille = 300
  val DefaultRatePerMille = 800
  val QualityThreshold = 0.42

  private def sampleBucket(id: Column): Column =
    hash32(concat(lit("sample_"), id.cast("string"))) % 1000

  /** The sampling predicate as a pure column — stateless and
    * deterministic, so it applies VERBATIM to a stream (no RNG state to
    * checkpoint, no reconciliation between batch backfill and
    * incremental ingestion; StreamingSpec asserts stream-batch parity).
    */
  def stratifiedKeep(docId: Column, lang: Column): Column =
    sampleBucket(docId) <
      when(lang === "en", lit(EnRatePerMille)).otherwise(lit(DefaultRatePerMille))

  /** C19: stratified deterministic sample over `documents` — per-lang
    * Bernoulli rates keyed on md5(doc_id). Pure narrow scan + filter:
    * no shuffle, no state, fully pushdown-friendly.
    */
  def c19StratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .filter(stratifiedKeep(col("doc_id"), col("lang")))
      .select(col("doc_id"), col("lang"), sampleBucket(col("doc_id")).as("bucket"))

  /** c36 geometry: a per-mille bucket space. */
  val MixBucketSpace = 1000

  private def mixBucket(id: Column): Column =
    hash32(concat(lit("mix_"), id.cast("string"))) % MixBucketSpace

  /** C36: temperature-scaled language rebalancing — the multilingual
    * mix step every corpus build runs: post-mix language shares follow
    * n_l^(1/T) instead of the raw n_l (T→∞ is uniform, T=1 is
    * unchanged), realized as deterministic hash-Bernoulli downsampling
    * with keep-rate r_l = (n_min / n_l)^(1 - 1/T) — the largest rate
    * (the smallest language) is exactly 1, everything else downsamples
    * toward balance. Deterministic: the threshold floor(r_l · 1000) is
    * integer math on correctly-rounded doubles (T = 2, see below)
    * and the per-document coin is the c19 salted-md5 bucket, so batch,
    * stream, and the DuckDB oracle agree row-for-row.
    *
    * Scale: the language histogram is a map-side-combinable aggregate
    * collapsing to ~|langs| rows; thresholds broadcast-join back; the
    * keep decision is a narrow per-row filter. No shuffle of the
    * corpus ever happens — the same posture as c19.
    */
  def c36TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    // the language histogram is bounded by the #langs contract, so the
    // whole threshold table computes DRIVER-SIDE from one collected
    // aggregate and inlines as a broadcast local relation (c86's
    // bounded-artifact posture) — the naive declarative form
    // re-evaluated the counts subtree inside the n_min broadcast AND as
    // the threshold frame's left side: three corpus scans and two
    // broadcast-materialization jobs of fixed-overhead tax on a tiny
    // plan; this is the 2-job floor (histogram scan + filtered scan).
    // Temperature T = 2, so the keep-rate is sqrt(n_min / n_l). T = 2
    // is deliberate: it needs only IEEE-correctly-rounded ops (divide,
    // sqrt, multiply, floor), so Spark and DuckDB compute bit-identical
    // thresholds — a general pow() would round differently between libm
    // implementations and break the hash gate at ULP boundaries. JVM
    // sqrt/division/multiply are the same correctly-rounded IEEE ops the
    // Column expressions (and the DuckDB oracle) run, floor exact.
    val countRows = docs.groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
    val nMin = countRows.map(_.getLong(1)).min
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val thr = countRows.toSeq
      .map(r => (r.getString(0), math.floor(math.sqrt(nMin.toDouble / r.getLong(1)) * MixBucketSpace).toLong))
      .toDF("lang", "thr")
    docs
      .join(broadcast(thr), Seq("lang"))
      .withColumn("bucket", mixBucket(col("doc_id")))
      .filter(col("bucket") < col("thr"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("thr"))
  }

  /** C20: the full training-data curation pipeline, composed from the
    * already-verified stages: quality scoring (c9) → threshold filter →
    * exact dedup keep-min (c1's contract) → language ID (c8) →
    * stratified deterministic sample (c19's mechanism, keyed on
    * pred_lang) → per-language corpus stats.
    *
    * Scale: quality and langid are narrow per-row column expressions;
    * dedup is the one text-keyed shuffle (on md5(text), text itself
    * never shuffles); the sample filter is row-local; the final stats
    * agg is map-side combinable. Min/max (not avg) of the double score
    * are reported so every reduction is order-independent and
    * engine-exact.
    */
  /** The curation pipeline per-document rows on ANY (doc_id, text)
    * frame: quality score+filter and language ID as single-pass
    * row-local transforms (no self-joins — the quality/langid columns
    * ride the same scan), exact dedup keeping the min doc_id per text
    * hash (the ONE text-keyed shuffle; text itself never shuffles —
    * only the 32-char hash), then the stratified sample predicate on
    * the surviving canonical row.
    */
  def curationRows(docs: DataFrame): DataFrame = {
    val kept = TextAnalysis
      .langPredicted(TextAnalysis.qualityScored(docs))
      .filter(col("quality_score") >= QualityThreshold)
      .select(col("doc_id"), md5(col("text")).as("text_hash"), col("pred_lang"), col("n_tokens"), col("quality_score"))
    // keep-min dedup as rn=1 over the hash: one scan (the old
    // groupBy-then-join read the scored subtree twice), text never
    // shuffles, and the rank-limit rewrite plants the native k=1
    // heap prune map-side — same stage shape as c32's
    import org.apache.spark.sql.expressions.Window
    kept
      .withColumn("rn", row_number().over(Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .drop("rn")
      .filter(stratifiedKeep(col("doc_id"), col("pred_lang")))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality_score"))
  }

  /** The per-language corpus stats c20 reports, shared with the
    * streaming parity spec: count / token sum / min-max quality (order-
    * independent reductions only — engine-exact).
    */
  def curationStats(rows: DataFrame): DataFrame =
    rows
      .groupBy(col("pred_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality")
      )

  def c20TrainingPipeline(spark: SparkSession, sfDir: String): DataFrame =
    curationStats(curationRows(Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))))

  /** A curated document surviving the streaming pipeline. */
  case class CuratedDoc(doc_id: Long, text_hash: String, pred_lang: String, n_tokens: Long, quality_score: Double)

  /** The curation pipeline as a STREAM: quality filter and language ID
    * apply verbatim (row-local columns), the stratified-sample
    * predicate applies verbatim (hash-Bernoulli, no RNG state — the
    * design property c19 documents), and exact dedup becomes one keyed
    * state: per text_hash, the first micro-batch containing the hash
    * emits its min-doc_id row, later batches emit nothing. Replayed in
    * doc_id order this is EXACTLY the batch keep-min contract (a later
    * batch cannot carry a smaller id), asserted by StreamingSpec
    * against [[c20TrainingPipeline]] on the same corpus — including
    * duplicates landing in the same micro-batch, where min-of-batch
    * (not partition arrival order, as plain dropDuplicates would give)
    * keeps the result deterministic.
    *
    * State is one boolean per distinct text hash, partitioned across
    * executors; production bounds it by retention the same way the
    * dedup stores do (dropDuplicatesWithinWatermark semantics) when the
    * corpus id-space is unbounded.
    */
  def curationStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = TextAnalysis
      .langPredicted(TextAnalysis.qualityScored(docs))
      .filter(col("quality_score") >= QualityThreshold)
      .select(col("doc_id"), md5(col("text")).as("text_hash"), col("pred_lang"), col("n_tokens"), col("quality_score"))
      .as[CuratedDoc]
    scored
      .groupByKey(_.text_hash)
      .flatMapGroupsWithState[Boolean, CuratedDoc](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(_.doc_id))
          }
      }
      .filter(stratifiedKeep(col("doc_id"), col("pred_lang")))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality_score"))
  }

  /** Tokens per packed training sequence (the "context window" of the
    * packing), and the doc_id span per prefix-sum bucket.
    */
  val PackBinTokens = 1024L
  val PackBucketSpan = 100L

  /** C25: sequence packing — the concat-and-chunk step of an LLM
    * pretraining pipeline: documents are laid end-to-end in doc_id
    * order and cut into fixed-`PackBinTokens` bins; each document is
    * assigned to the bin its first token lands in, and the query
    * reports per-bin packing stats (docs, tokens, id range).
    *
    * The global token offset of every document is a PREFIX SUM — the
    * naive window (`sum over (order by doc_id)`) would run the whole
    * corpus through ONE task. Here it is two-phase, the distributed
    * prefix-sum idiom: (1) per-bucket token totals (buckets = contiguous
    * doc_id ranges, a map-side-combinable aggregate); (2) running bucket
    * offsets via a window over the BUCKET AGGREGATE — thousands of rows,
    * deliberately single-partition, the same tiny-global-stage shape as
    * b9's cum-join; (3) broadcast offsets back and compute the in-bucket
    * exclusive cumsum with a window partitioned by bucket — bounded by
    * the bucket span, parallelism scales with corpus size. PlanSpec
    * asserts no empty-partition window ever touches raw document rows.
    */
  def c25SequencePacking(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"),
        floor(col("doc_id") / PackBucketSpan).as("bucket")
      )
    val bucketTotals = t.groupBy(col("bucket")).agg(sum(col("n")).as("bn"))
    val wb = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("bucket_off", coalesce(sum(col("bn")).over(wb), lit(0L)))
      .select(col("bucket"), col("bucket_off"))
    val wl = Window.partitionBy(col("bucket")).orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offsets), "bucket")
      .withColumn("off", col("bucket_off") + coalesce(sum(col("n")).over(wl), lit(0L)))
      .withColumn("bin_id", floor(col("off") / PackBinTokens))
      .groupBy(col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc")
      )
  }

  /** c40 bucket width: 1024 contiguous ranges over hash32's [0, 2^32)
    * domain — the shuffled-order counterpart of c25's id buckets.
    */
  val ShufBucketWidth = 1L << 22

  /** C40: deterministic corpus shuffle + sequence packing — every
    * pretraining run packs in SHUFFLED order, not ingestion order
    * (adjacent source documents are correlated; a seeded permutation
    * decorrelates batches reproducibly across re-runs and engines).
    * The permutation is the salted md5 order (`shuf_<doc_id>` — c19's
    * coin idiom as an ordering), and the packing is c25's two-phase
    * distributed prefix sum with hash RANGES as the bucket: bucket =
    * floor(h / width) is monotone in h, so cross-bucket order equals
    * the flat (h, doc_id) order and the cut is exactly the oracle's
    * single-window definition. No whole-corpus single-partition window
    * exists; the only unpartitioned frame is the ≤1024-row bucket
    * offset table.
    */
  def c40ShuffledPacking(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"),
        graft.functions.TextFunctions
          .hash32(concat(lit("shuf_"), col("doc_id").cast("string")))
          .as("h")
      )
      .withColumn("bucket", floor(col("h") / ShufBucketWidth))
    val bucketTotals = t.groupBy(col("bucket")).agg(sum(col("n")).as("bn"))
    val wb = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("bucket_off", coalesce(sum(col("bn")).over(wb), lit(0L)))
      .select(col("bucket"), col("bucket_off"))
    val wl = Window
      .partitionBy(col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offsets), "bucket")
      .withColumn("off", col("bucket_off") + coalesce(sum(col("n")).over(wl), lit(0L)))
      .withColumn("bin_id", floor(col("off") / PackBinTokens))
      .groupBy(col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc")
      )
  }

  /** c42 target epochs per language. Fractions are quarters on purpose:
    * frac · 2³² is then an exact integer, so the fractional-copy coin
    * threshold is engine-exact (no float rounding anywhere).
    */
  val EpochsByLang: Seq[(String, Double)] =
    Seq(("en", 1.0), ("de", 2.5), ("fr", 0.5), ("es", 2.25), ("zh", 1.75))

  /** C42: epoch-based mix materialization — the UPSAMPLING side of the
    * mix toolbox (c36's temperature rebalance only downsamples): each
    * language is repeated to its target epoch count, the way a
    * pretraining mix oversamples small high-quality subsets (epochs
    * 2.5 = every doc twice, plus a deterministic half get a third
    * copy). Integer part → floor(e) copies per doc; fractional part →
    * one extra copy iff the doc's salted md5 coin clears frac · 2³²
    * (c19's hash-Bernoulli idiom, so the SAME docs win on any cluster,
    * partitioning, or engine). The whole operator is row-local — a
    * when-chain projection and one Generate over sequence(0, n-1);
    * the corpus never shuffles (plan-asserted). Output is one row per
    * emitted copy (doc_id, lang, copy_idx): the materialized mix a
    * packing stage consumes directly.
    */
  def c42EpochMix(spark: SparkSession, sfDir: String): DataFrame =
    epochCopies(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")))

  /** c42's upsampling as a df→df transform over any (doc_id, lang)
    * frame — row-local when-chain + one Generate, no shuffle, so the
    * epoch materialization runs unchanged as a stream transform
    * (stream-batch parity spec-verified).
    */
  def epochCopies(docs: DataFrame): DataFrame = {
    val intPart = EpochsByLang.foldLeft(lit(0)) { case (acc, (l, e)) =>
      when(col("lang") === l, lit(math.floor(e).toInt)).otherwise(acc)
    }
    val fracThresh = EpochsByLang.foldLeft(lit(0L)) { case (acc, (l, e)) =>
      when(col("lang") === l, lit(((e - math.floor(e)) * 4294967296.0).toLong)).otherwise(acc)
    }
    docs
      .withColumn(
        "n_copies",
        intPart + when(
          graft.functions.TextFunctions
            .hash32(concat(lit("epoch_"), col("doc_id").cast("string"))) < fracThresh,
          1
        ).otherwise(0)
      )
      .filter(col("n_copies") > 0)
      .select(
        col("doc_id"),
        col("lang"),
        explode(sequence(lit(0), col("n_copies") - 1)).as("ci")
      )
      .select(col("doc_id"), col("lang"), col("ci").cast("long").as("copy_idx"))
  }

  /** c46 geometry: weight tiers are powers of two ON PURPOSE — the
    * Efraimidis-Spirakis priority u^(1/w) is then a sqrt chain
    * (u, sqrt(u), sqrt(sqrt(u))), and sqrt is IEEE correctly-rounded
    * in both engines (same reasoning as c36's T = 2); a general
    * pow() rounds differently across libm implementations and would
    * break the hash gate at ULP boundaries. Tier thresholds follow the
    * c9 score: clean docs weigh 4, mid-quality 2, the rest 1.
    */
  val WeightHighQuality = 0.5
  val WeightMidQuality = 0.3
  val WeightedSampleK = 100

  /** C46: weighted sampling without replacement — the
    * Efraimidis-Spirakis (IPL 2006) priority-key scheme: each doc draws
    * a deterministic uniform u (salted-md5 coin, c19's idiom) and the
    * per-lang sample is the top-k by priority u^(1/w), which selects
    * each doc with probability proportional to its weight w — here a
    * quality tier, the "sample the good data harder" curation step
    * between c19's unweighted Bernoulli and c30's hard budget.
    *
    * Scale: the priority is a narrow row-local projection (no RNG
    * state — reproducible on any partitioning, and a doc's priority
    * never changes as the corpus grows); the top-k is the native
    * [[graft.plans.TopKPerKey]] — bounded per-partition heaps, only
    * k·|langs| rows ever shuffle, never a per-lang sort of the corpus.
    */
  def c46WeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.TopKPerKey
      .topKPerKey(
        weightedPriorities(spark, sfDir),
        keyCols = Seq("lang"),
        orderBy = Seq(("priority", false), ("doc_id", true)),
        k = WeightedSampleK
      )
      .select(col("lang"), col("doc_id"), col("weight"), col("priority"))

  /** The c46 per-doc priority frame (doc_id, lang, weight, priority) —
    * one row-local projection, shared verbatim by the batch top-k and
    * the streaming reservoir
    * ([[graft.streaming.StreamingOps.streamingWeightedSample]]), so
    * stream-batch parity is parity of the SELECTION only, never of
    * recomputed priorities.
    */
  def weightedPriorities(spark: SparkSession, sfDir: String): DataFrame =
    weightedPrioritiesFrom(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
    )

  /** [[weightedPriorities]] as a df→df transform over any frame with
    * (doc_id, lang, text) — pure row-local column math, so it applies
    * verbatim to a stream (StreamingSpec's weighted-sample parity).
    */
  def weightedPrioritiesFrom(docs: DataFrame): DataFrame =
    TextAnalysis
      .qualityScored(docs)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .withColumn(
        "weight",
        when(col("quality_score") >= WeightHighQuality, lit(4L))
          .when(col("quality_score") >= WeightMidQuality, lit(2L))
          .otherwise(lit(1L))
      )
      .withColumn(
        "u",
        graft.functions.TextFunctions
          .hash32(concat(lit("wsamp_"), col("doc_id").cast("string")))
          .cast("double") / 4294967296.0
      )
      .withColumn(
        "priority",
        when(col("weight") === 4L, sqrt(sqrt(col("u"))))
          .when(col("weight") === 2L, sqrt(col("u")))
          .otherwise(col("u"))
      )

  /** The "new batch" stand-in for incremental dedup: every 10th doc. */
  val IncrEvery = 10

  /** C26: incremental dedup — admit a NEW ingestion batch against an
    * already-deduplicated historical corpus, the steady-state form of c1
    * (a growing 100 TB corpus never re-dedups from scratch). A new doc
    * survives iff its text hash appears nowhere in history AND it is
    * the min-doc_id holder of its hash within the batch. Per-lang
    * admission stats keep the output compact.
    *
    * Scale: only 32-char md5 hashes shuffle — history projects to its
    * hash column for the anti-join (hash-keyed, map-side combinable on
    * the batch side), text never leaves its scan. The anti-join keys on
    * the same hash as c1, so an incremental pass composes with the
    * batch dedup's invariants: (history ∪ admitted) stays exactly
    * deduplicated.
    */
  def c26DedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val isNew = col("doc_id") % IncrEvery === 0
    val history = docs.filter(!isNew).select(col("h")).distinct()
    val batch = docs.filter(isNew)
    val canonical = batch
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    batch
      .join(canonical, "doc_id")
      .join(history, Seq("h"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_admitted"), min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  /** c44 Bloom sizing: 1% false-positive rate — each false positive
    * only costs one row in the exact-verification probe, so fpp trades
    * filter bytes against candidate-set size, never correctness.
    */
  val BloomFpp = 0.01

  /** C44: Bloom-accelerated incremental dedup — c26's admission
    * semantics (admit a new batch's canonical docs whose text hash is
    * absent from history) computed so that the HISTORY SIDE NEVER
    * SHUFFLES. c26's hash anti-join is the textbook plan, but at
    * steady state history is the 100 TB corpus and the batch is a
    * daily sliver: a shuffled anti-join ships every distinct history
    * hash through the exchange to answer a question about a million
    * batch rows.
    *
    * Three-step Bloom admission instead (the runtime-filter pattern,
    * applied as an explicit operator):
    *   1. Build a Bloom filter over history's hashes with the native
    *      [[graft.plans.BloomAdmit.bloomAgg]] — map-side partials,
    *      OR-merged, one bounded binary to the driver (exactly how
    *      Spark's InjectRuntimeFilter materializes its filters; MBs
    *      for billions of keys).
    *   2. Tag each canonical batch doc with the codegen'd
    *      `might_contain` probe. `false` ⇒ PROVABLY absent from
    *      history ⇒ admitted with no join at all — at 1% fpp that is
    *      ~99% of genuinely-new rows.
    *   3. Exact-verify only the candidate sliver (true dups + false
    *      positives): history scans once and probes the BROADCAST
    *      candidate hash set; the hit set (tiny) broadcasts back into
    *      a left-anti. Both joins broadcast — no shuffle touches
    *      history at any point, and the only exchange anywhere is the
    *      batch-sized canonicalization groupBy.
    *
    * The output is EXACTLY c26's admission verdict (PlanSpec
    * cross-checks row-for-row against the plain anti-join): the Bloom
    * changes which rows pay for a join, never which rows are admitted.
    * `history.count()` here stands in for the snapshot row count a
    * production metastore already tracks.
    */
  def c44BloomDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val isNew = col("doc_id") % IncrEvery === 0
    // history's hash column materialized ONCE (round 15, c21's
    // checkpoint posture): the streaming form re-scanned the full
    // corpus text and re-ran md5 for BOTH history consumers (the Bloom
    // build and the exact-verify semi-join) plus the snapshot count;
    // the checkpoint is one narrow hash column and none of the three
    // history jobs re-touch text bytes. Deterministic row-local hash —
    // no value changes.
    val hist = docs.filter(!isNew).select(col("h")).localCheckpoint()
    bloomAdmit(hist, docs.filter(isNew))
  }

  /** Generic core of [[c44BloomDedup]]: `history` is a 1-column frame
    * of admitted text hashes `h`; `batch` carries (doc_id, lang, h)
    * with unique doc_id. Returns the canonical (min-doc_id per hash)
    * batch docs whose hash is absent from history — identical to the
    * plain anti-join, with only the batch canonicalization ever
    * shuffling.
    */
  def bloomAdmit(history: DataFrame, batch: DataFrame): DataFrame = {
    val bloomBytes = history
      .agg(graft.plans.BloomAdmit.bloomAgg(xxhash64(col("h")), history.count(), BloomFpp).as("bf"))
      .head()
      .getAs[Array[Byte]]("bf")
    // the canonicalized batch materialized ONCE (round 15): its
    // groupBy (the operator's ONLY exchange) fed three consumers — the
    // definitely-new branch, the candidate branch, and the candidate
    // hash set the exact-verify probe broadcasts — re-running the
    // batch scan + md5 + exchange each time. The batch is a daily
    // sliver by contract, so the checkpoint is small at any corpus
    // scale.
    val canonical = batch
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"), col("h"))
      .localCheckpoint()
    val maybeDup = graft.plans.BloomAdmit.mightContain(bloomBytes, xxhash64(col("h")))
    val definite = canonical.filter(!maybeDup)
    val candidates = canonical.filter(maybeDup)
    val dupHashes = history
      .join(broadcast(candidates.select(col("h"))), Seq("h"), "left_semi")
      .distinct()
    definite.unionByName(candidates.join(broadcast(dupHashes), Seq("h"), "left_anti"))
  }

  /** Stand-in benchmark set for decontamination: every 50th document.
    * In production this is the held-out eval suite — thousands of
    * documents against a corpus of billions, hence the broadcast.
    */
  val EvalEvery = 50

  /** C21: benchmark decontamination — flag corpus documents sharing
    * word-5-gram shingles with the eval set (the standard n-gram
    * overlap test run before training). Scale: the eval side's distinct
    * shingle hashes are benchmark-sized → broadcast; the corpus side
    * streams through one broadcast semi-ish join and aggregates
    * map-side. The corpus text itself never shuffles — only (doc_id,
    * shingle-hash) pairs.
    */
  def c21Decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpoint: the eval and corpus branches are disjoint filters of
    // the SAME shingle frame — materializing (doc_id, h) longs once
    // replaces a second full documents scan + md5/shingle recompute
    val sh = TextDedup.shingleHashes(spark, sfDir).localCheckpoint()
    val isEval = col("doc_id") % EvalEvery === 0
    val evalShingles = sh.filter(isEval).select(col("h")).distinct()
    val corpus = sh.filter(!isEval)
    val overlap = corpus
      .join(broadcast(evalShingles), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    corpus
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(overlap, "doc_id")
      .select(
        col("doc_id"),
        col("n_overlap"),
        col("n_shingles"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("contamination_ratio")
      )
  }

  /** c64: keep the top QTopNum/QTopDen fraction per language (by
    * quality, ties to lower doc_id); scores bucket into QBuckets
    * integer cells for the two-phase threshold.
    */
  val QTopNum = 3
  val QTopDen = 10
  val QBuckets = 1024

  /** C64: per-language TOP-FRACTION quality gate — "keep the best 30%
    * of every language" (the percentile form of curation: c30 cuts by
    * token budget, c28 by doc quota, this by RELATIVE quality rank, the
    * rule real mixes use when absolute thresholds would starve
    * low-resource languages). k_l = ceil(0.3·n_l) is data-dependent
    * per key, so no fixed-k operator applies directly — and a
    * row_number window per language would SORT each language's whole
    * partition (the b5 anti-pattern, fatal when one language is half
    * the corpus). Instead the exact two-phase rank: (1) bucket each
    * score into one of [[QBuckets]] integer cells (floor(q·1024) —
    * IEEE-exact in both engines; bucket order REFINES score order, so
    * higher buckets rank wholly before lower ones); (2) per-(lang,
    * bucket) counts → a tiny cumulative frame yields each language's
    * threshold bucket and the residual r_l to take from inside it;
    * (3) docs above the threshold bucket pass with NO sort, and only
    * the boundary bucket (~1/1024 of each language) pays a partitioned
    * rank for its top r_l. Output provably equals the global
    * per-language top-k — the oracle computes the naive window
    * definition and the hash must match.
    */
  def c64QualityTopFrac(spark: SparkSession, sfDir: String): DataFrame =
    c64QualityTopFracFrom(
      graft.operators.TextAnalysis
        .qualityScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), col("lang")))
        .select(col("doc_id"), col("lang"), col("quality_score"))
    )

  /** The two-phase selection over any (doc_id, lang, quality_score)
    * frame — split out so randomized trials can drive it with scores
    * planted ON bucket boundaries and langs whose k_l hits every
    * rounding case.
    */
  def c64QualityTopFracFrom(input: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = input
      .withColumn("b", floor(col("quality_score") * QBuckets).cast("long"))
      .localCheckpoint()
    val counts = scored.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("cnt"))
    val wl = Window
      .partitionBy(col("lang"))
      .orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = counts
      .withColumn("above", coalesce(sum(col("cnt")).over(wl), lit(0L)))
      .join(counts.groupBy(col("lang")).agg(sum(col("cnt")).as("n")), "lang")
      .withColumn("k", expr(s"(n * $QTopNum + ${QTopDen - 1}) DIV $QTopDen"))
      .filter(col("above") < col("k") && col("above") + col("cnt") >= col("k"))
      .select(col("lang"), col("b").as("tb"), (col("k") - col("above")).as("r"))
    val withThr = scored.join(broadcast(thr), "lang")
    val keepAbove = withThr.filter(col("b") > col("tb"))
    // only the boundary bucket pays a rank — ~1/QBuckets of each lang
    val wb = Window.partitionBy(col("lang")).orderBy(col("quality_score").desc, col("doc_id"))
    val keepBoundary = withThr
      .filter(col("b") === col("tb"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= col("r"))
    keepAbove
      .select(col("lang"), col("doc_id"), col("quality_score"))
      .unionByName(keepBoundary.select(col("lang"), col("doc_id"), col("quality_score")))
  }

  /** c63: cells with fewer docs than this are suppressed — the
    * small-cell threshold every privacy-reviewed data release applies.
    */
  val KAnonMin = 5

  /** C63: k-anonymity small-cell suppression — the privacy-safe
    * release form of a (source × lang) report: a cell smaller than
    * [[KAnonMin]] identifies its members too narrowly to publish, so
    * small cells merge into one complementary `_suppressed` bucket
    * whose totals are kept (suppress-don't-drop: the report still sums
    * to the corpus, the standard statistical-disclosure-control rule —
    * dropping small cells would let a reader reconstruct them by
    * subtraction from the marginals). Two-level shape: the corpus-sized
    * work is ONE keyed aggregate with map-side combine; the suppression
    * re-aggregation runs over the CELL frame (rows ∝ source×lang, not
    * corpus). Token counting is row-local — text never rides an
    * exchange.
    */
  def c63KanonReport(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables
      .documents(spark, sfDir)
      .select(
        col("source"),
        col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt")
      )
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cn"), sum(col("nt")).as("ct"))
    cells
      .groupBy(
        when(col("cn") < KAnonMin, lit("_suppressed")).otherwise(col("source")).as("source"),
        when(col("cn") < KAnonMin, lit("_suppressed")).otherwise(col("lang")).as("lang")
      )
      .agg(sum(col("cn")).as("n_docs"), sum(col("ct")).as("n_tokens"))
  }

  /** Stateless, stream-applicable decontamination scoring: each doc's
    * distinct shingle hashes (same md5/rolling math as the batch path)
    * intersect a FIXED eval-hash array entirely row-locally — no join,
    * no state, no shuffle, so the transform drops into a streaming
    * ingestion pipeline unchanged (c22/c27/c31's posture: admission
    * screening happens per document as it arrives). `evalHashes` is the
    * collected distinct eval shingle set — bounded by the
    * eval-sets-are-small contract (c21's broadcast argument, here as a
    * literal array: the c24/c48 bounded-artifact posture). Emits only
    * contaminated docs (n_overlap ≥ 1), row-for-row identical to
    * [[c21Decontamination]] on the same corpus.
    */
  def decontaminationScored(docs: DataFrame, evalHashes: Seq[Long]): DataFrame = {
    import graft.functions.TextFunctions._
    docs
      .select(
        col("doc_id"),
        array_distinct(
          rollingShingleHashes(md5Tokens(tokens(col("text")), 8), TextDedup.ShingleSize)
        ).as("hs")
      )
      .select(
        col("doc_id"),
        size(array_intersect(col("hs"), typedLit(evalHashes))).cast("long").as("n_overlap"),
        size(col("hs")).cast("long").as("n_shingles")
      )
      .filter(col("n_overlap") > 0)
      .select(
        col("doc_id"),
        col("n_overlap"),
        col("n_shingles"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("contamination_ratio")
      )
  }

  /** C58: the EVAL-side decontamination report — c21 scores corpus
    * docs; this answers the question the benchmark owner asks: which
    * eval items leaked into the training corpus, through how many
    * corpus documents, and how much of each item is covered. Per eval
    * doc: distinct corpus docs sharing ≥1 shingle, distinct leaked
    * shingles, the item's shingle total, and the leaked fraction —
    * clean items stay in the report at zero (a leak audit that drops
    * the clean rows can't prove absence).
    *
    * Scale shape: same join as c21 with the aggregation flipped to the
    * eval axis — the corpus streams once through the hash join on
    * 8-byte shingle hashes and collapses map-side; everything after
    * the join is ∝ (eval items × their leaks), benchmark-sized. Text
    * never shuffles (meta-spec).
    */
  def c58DecontamReport(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = TextDedup.shingleHashes(spark, sfDir).localCheckpoint()
    val isEval = col("doc_id") % EvalEvery === 0
    val ev = sh.filter(isEval).select(col("doc_id").as("eval_doc"), col("h"))
    val corpus = sh.filter(!isEval).select(col("doc_id").as("corpus_doc"), col("h"))
    val hits = ev
      .join(corpus, "h")
      .groupBy(col("eval_doc"))
      .agg(
        countDistinct(col("corpus_doc")).as("n_corpus_docs"),
        countDistinct(col("h")).as("n_leaked")
      )
    ev.groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_eval_shingles"))
      .join(hits, Seq("eval_doc"), "left")
      .select(
        col("eval_doc"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        col("n_eval_shingles"),
        (coalesce(col("n_leaked"), lit(0L)).cast("double") / col("n_eval_shingles"))
          .as("leak_ratio")
      )
  }

  /** Per-source document cap for [[c28DomainQuota]] — sized so the cap
    * binds at every test SF (sources average ~25 docs at sf0.01).
    */
  val DomainQuota = 20

  /** C28: per-domain quota sampling — cap each source's contribution
    * at the [[DomainQuota]] best documents (longest first, doc_id
    * tiebreak for a total order), the standard defense against one
    * domain flooding a training mix. Runs on the native
    * [[graft.plans.TopKPerKey]] operator: bounded per-key heaps on the
    * map side, so the cap shuffles at most quota × partitions rows per
    * source and never sorts a domain's full document set — the plan
    * that survives a domain with 10^9 pages (PlanSpec-asserted).
    */
  def c28DomainQuota(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("n_chars")),
      keyCols = Seq("source"),
      orderBy = Seq(("n_chars", false), ("doc_id", true)),
      k = DomainQuota
    )

  /** Per-language token budget for [[c30TokenBudget]] — binds at every
    * test SF (smallest language ≈ 3.5k tokens).
    */
  val TokenBudgetPerLang = 2500L

  /** Quality bands for c30's two-phase fill: quality_score ∈ [0, 1] →
    * int bands. More bands ⇒ smaller located windows; 50 keeps the
    * per-band aggregate frame trivial (≤ 51 rows per language).
    */
  val BudgetBands = 50

  /** C30: token-budget fill — per language, keep documents greedily by
    * (quality DESC, doc_id) until the token budget is spent: the "fill
    * a 1B-token budget per language from the best documents" selection
    * every training-mix recipe ends with. Output carries each kept
    * doc's running cumulative token count.
    *
    * Semantics are a per-language cumulative sum over the quality
    * order (the oracle's flat window); the PLAN is two-phase, b9/c25
    * style, because a language is a handful of giant partitions at
    * corpus scale and a per-lang window would serialize each into one
    * sort task: docs bucket into quality BANDS (floor(q·50)); band
    * token totals aggregate map-side; a tiny window over the ≤ 51-row
    * per-lang band frame yields each band's token offset; bands whose
    * offset already exceeds the budget are PRUNED before any per-doc
    * work; and the in-band cumulative windows partition by
    * (lang, band) — parallelism bounded by bands × languages, never
    * one task per language. (A point-mass quality distribution
    * degenerates to one band — the same documented caveat as b9's
    * value bucketing.) Ordering by (band DESC, q DESC, doc_id) equals
    * (q DESC, doc_id) because floor is monotone, so the two-phase cut
    * is EXACTLY the flat cumsum's.
    */
  def c30TokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    budgetFill(
      TextAnalysis
        .qualityScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score").as("q")),
      key = "lang",
      score = "q",
      id = "doc_id",
      amount = "n_tokens",
      budget = TokenBudgetPerLang
    ).select(col("doc_id"), col("lang"), col("n_tokens"), col("cum").as("cum_tokens"))

  /** Generic budget fill over any frame: per `key`, keep rows greedily
    * by (`score` DESC, `id` ASC) while the running sum of `amount`
    * stays within `budget`; emits the kept rows plus their running
    * `cum`. `score` must lie in [0, 1] (the normalized-score contract —
    * quality scores, sampling weights); `id` must be unique per key so
    * the order is total. Plan shape documented at [[c30TokenBudget]].
    */
  def budgetFill(
      rows: DataFrame,
      key: String,
      score: String,
      id: String,
      amount: String,
      budget: Long,
      bands: Int = BudgetBands
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-14: `banded` feeds BOTH the per-band offsets aggregate and
    // the final join, and the two consumers' exchanges differ (partial
    // agg vs raw rows), so Catalyst cannot reuse one — without a
    // barrier the whole upstream subtree (c30/c32: the per-doc quality
    // scoring over the raw text) is computed twice. The checkpointed
    // frame is the NARROW scored projection only (id, key, score,
    // amount — the text never rides it): the materialize-the-decision-
    // frame-once posture of guide §8, measured 2.1 s → 1.0 s on c30.
    val banded = rows.withColumn("band", floor(col(score) * bands).cast("int")).localCheckpoint()
    val wOff = Window
      .partitionBy(col(key))
      .orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded
      .groupBy(col(key), col("band"))
      .agg(sum(col(amount)).as("bt"))
      // <= not <: a band whose offset EQUALS the budget can still hold
      // zero-`amount` rows (cum == budget is kept by the flat cumsum
      // definition); for strictly positive amounts the band is emptied
      // by the cum filter anyway, so this only restores the boundary
      .withColumn("offset", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .filter(col("offset") <= budget)
      .select(col(key), col("band"), col("offset"))
    val wIn = Window
      .partitionBy(col(key), col("band"))
      .orderBy(col(score).desc, col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .join(offsets, Seq(key, "band"))
      .withColumn("cum", col("offset") + sum(col(amount)).over(wIn))
      .filter(col("cum") <= budget)
      .drop("band", "offset")
  }

  /** C32: the end-to-end curation composition — quality gate → exact
    * dedup (keep-min) → per-domain quota (native TopKPerKey) → per-lang
    * token budget (budgetFill) — each stage a library operator already
    * oracle-proven alone, composed here in one declarative plan so
    * Catalyst pipelines them (the quality columns are computed once,
    * the dedup hash shuffles 128-bit hashes, the quota never sorts a
    * domain, the budget never sorts a language). The shape every real
    * training-mix build runs nightly.
    */
  def c32CurationE2e(spark: SparkSession, sfDir: String): DataFrame =
    curationFrom(scoredCurationInput(spark, sfDir))

  /** The scored full corpus feeding [[c32CurationE2e]] — every doc,
    * quality gate NOT yet applied (so telemetry can count rejects).
    */
  private[graft] def scoredCurationInput(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityScored(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("source"), col("text"))
    )

  /** c32's stage composition from an already-scored corpus frame. */
  private[graft] def curationFrom(scoredAll: DataFrame): DataFrame = {
    val scored = scoredAll
      .filter(col("quality_score") >= QualityThreshold)
      .select(col("doc_id"), col("lang"), col("source"), col("text"), col("n_tokens"), col("quality_score").as("q"))
    // keep-min dedup as rn=1 over the text hash: ONE scan (the
    // groupBy-then-self-join formulation reads documents twice), text
    // itself never shuffles (dropped for its md5 before the exchange),
    // and the RowNumberLimitToTopK rule plants the native k=1 heap
    // prune map-side, so each reducer sees one candidate row per hash
    // per map partition
    val deduped = {
      import org.apache.spark.sql.expressions.Window
      scored
        .withColumn("h", md5(col("text")))
        .drop("text")
        .withColumn("rn", row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .drop("rn", "h")
    }
    val quota = graft.plans.TopKPerKey.topKPerKey(
      deduped,
      keyCols = Seq("source"),
      orderBy = Seq(("q", false), ("doc_id", true)),
      k = DomainQuota
    )
    budgetFill(quota, key = "lang", score = "q", id = "doc_id", amount = "n_tokens", budget = TokenBudgetPerLang)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"), col("cum").as("cum_tokens"))
  }

  /** The flagship curation pass with pipeline telemetry collected IN
    * the same job via `Dataset.observe` — at 100 TB a second "count
    * the rejects" scan is cluster-days, and caching the corpus to
    * count it is worse; CollectMetrics folds the counters into the
    * running tasks (map-side, no extra shuffle, no extra scan —
    * spec-asserted scan-count parity with [[c32CurationE2e]]).
    * Observations are single-use: call once per action. After any
    * action on the returned frame, `inObs.get` carries the corpus-side
    * counters (n_docs, n_quality_rejected, tokens_seen) and
    * `outObs.get` the admitted-side (n_admitted, tokens_admitted) —
    * the numbers a nightly mix build alerts on.
    */
  def observedCurationE2e(
      spark: SparkSession,
      sfDir: String
  ): (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = org.apache.spark.sql.Observation("curation_input")
    val outObs = org.apache.spark.sql.Observation("curation_admitted")
    val scored = scoredCurationInput(spark, sfDir).observe(
      inObs,
      count(lit(1)).as("n_docs"),
      count(when(col("quality_score") < QualityThreshold, 1)).as("n_quality_rejected"),
      sum(col("n_tokens")).as("tokens_seen")
    )
    val out = curationFrom(scored).observe(
      outObs,
      count(lit(1)).as("n_admitted"),
      sum(col("n_tokens")).as("tokens_admitted")
    )
    (out, inObs, outObs)
  }

  /** PII patterns — simple enough to mean the same thing in Java
    * regex (Spark) and RE2 (DuckDB): email-shaped tokens and long
    * digit runs (phone/account/card-shaped).
    */
  val EmailPattern = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
  val DigitRunPattern = "[0-9]{6,}"

  private def redacted(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"), DigitRunPattern, "<NUM>")

  /** C22: PII scrubbing — count and redact email-shaped tokens and
    * long digit runs. Pure per-row column expressions (narrow scan, no
    * shuffle); the redacted text is fingerprinted with md5 so the
    * transform itself is oracle-verified without dumping full text.
    */
  def c22PiiRedact(spark: SparkSession, sfDir: String): DataFrame =
    piiScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** c22's scrub as a df→df transform over any (doc_id, text) frame —
    * pure per-row column expressions, so it drops unchanged into a
    * streaming ingestion pipeline (stream-batch parity spec-verified).
    */
  def piiScored(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(DigitRunPattern)).cast("long").as("n_digit_runs"),
        md5(redacted(col("text"))).as("redacted_md5"),
        length(redacted(col("text"))).cast("long").as("redacted_len")
      )

  /** C49: corpus mix report — per (source, lang) document and token
    * counts plus each cell's share of the corpus token total: the
    * first table every mix build and every post-curation audit reads
    * (c36's temperature targets, c42's epoch plan, and c28's quota
    * choices all start from exactly these marginals). The share
    * divides two exact longs in double, so it is engine-identical.
    *
    * Scale: ONE (source, lang) shuffle with map-side partial
    * aggregation (token counting is row-local — text never shuffles);
    * the corpus total folds off the same aggregate as a single-row
    * broadcast (c14's nDocs idiom), so the report never re-scans.
    */
  /** C50: sequence-length distribution — per (lang, power-of-two
    * token-count bucket) doc counts, token totals, and the bucket's
    * min/max observed length: the histogram every packing and batching
    * plan reads before choosing a context length (c25/c40 consume
    * exactly these lengths), and the long-tail diagnostic for
    * truncation loss. The bucket is floor(log2(n_tokens)) computed
    * EXACTLY as `length(bin(n)) - 1` — integer/string ops only, no
    * libm log (the c37 lesson: log/pow round differently across
    * engines; bin() cannot).
    *
    * Scale: token counting is row-local; ONE (lang, bucket) shuffle
    * with map-side combine onto ≤ |langs|·64 groups. Text never
    * shuffles.
    */
  def c50LengthHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt")
      )
      .withColumn("len_bucket", (length(bin(col("nt"))) - 1).cast("long"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        min(col("nt")).as("min_len"),
        max(col("nt")).as("max_len")
      )

  def c49SourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val cell = Tables
      .documents(spark, sfDir)
      .select(
        col("source"),
        col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt")
      )
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .localCheckpoint()
    val total = cell.agg(sum(col("n_tokens")).as("total_tokens"))
    cell
      .crossJoin(broadcast(total))
      .select(
        col("source"),
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens")).as("token_share")
      )
  }

  /** c52 split geometry: per-mille buckets on a salted md5 coin —
    * train < 980, validation < 990, test otherwise (98/1/1). The salt
    * differs from c19's sampling salt and c36's mix salt, so the three
    * coins are independent: a doc's split never correlates with whether
    * a sampling stage kept it.
    */
  val SplitTrainPerMille = 980
  val SplitValPerMille = 990

  private def splitBucket(id: Column): Column =
    hash32(concat(lit("split_"), id.cast("string"))) % 1000

  /** The split label as a pure column — the same deterministic-coin
    * contract as [[stratifiedKeep]]: reproducible on any cluster, any
    * partitioning, any execution order, and stable across reruns, so
    * train/val/test membership is a property of the DOC, not of the
    * job that computed it. That stability is the leakage guarantee: a
    * doc can never drift from test into train between pipeline runs.
    */
  def splitName(id: Column): Column =
    when(splitBucket(id) < SplitTrainPerMille, lit("train"))
      .when(splitBucket(id) < SplitValPerMille, lit("val"))
      .otherwise(lit("test"))

  /** C52: deterministic train/val/test corpus split — the last step of
    * every training-data build. Output is the per-(split, lang) census
    * (doc + token counts): the split label itself is a row-local hash
    * coin (zero shuffle to assign; disjointness and coverage hold by
    * construction), and the census is ONE keyed aggregation with
    * map-side combine — token counting never ships text. At 100 TB the
    * assignment adds nothing to a write path (each output partition
    * filters its split) and the census is the only exchange.
    */
  def c52CorpusSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        splitName(col("doc_id")).as("split"),
        col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt")
      )
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))

  /** C73: train/test split-leakage report — the hygiene check c52's
    * split guarantee does NOT give you: the hash coin prevents a DOC
    * from drifting between splits, but near-duplicate CONTENT can still
    * land on both sides (a syndicated article in train, its mirror in
    * test) and quietly inflate eval scores. Per test doc: distinct
    * train partners sharing ≥1 shingle, distinct leaked shingles,
    * shingle total, leak fraction — clean test docs stay in the report
    * at zero (c58's posture: an audit that drops clean rows cannot
    * prove absence). Same 8-byte rolling-hash join as c21/c58 with the
    * split coin as the partition: text never shuffles, output ∝ the
    * test split (1% of the corpus). The gate corpus's test slice is
    * clean (all-zero report); the spec plants a cross-split near-dup
    * and proves the hit branch.
    */
  def c73SplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    // round 15: a shingle-frame localCheckpoint (c21's posture) was
    // BUILT, MEASURED, AND REJECTED here — A/B medians 0.692 → 0.996 s
    // @32c and 0.680 → 0.805 s @8c. The reason it loses where c21's
    // wins: the split predicate is a pure doc_id function, so Catalyst
    // pushes each branch's filter BELOW the shingle projection — the
    // streaming test branches tokenize only the ~1% test slice and the
    // train branch its slice, ≈ one full shingle pass in total, while
    // the checkpoint forces a 100% materialization plus the write.
    // c21 differs because BOTH its branches are corpus-sized consumers
    // of the SAME rows.
    c73SplitLeakageFrom(graft.operators.TextDedup.shingleHashes(spark, sfDir))
  }

  /** The leakage report over any (doc_id, h) distinct-shingle frame —
    * split out so the spec can plant shingle sets whose ids land in
    * train and test by the real coin.
    */
  def c73SplitLeakageFrom(sh: DataFrame): DataFrame = {
    val lab = sh.withColumn("split", splitName(col("doc_id")))
    val tr = lab.filter(col("split") === "train").select(col("doc_id").as("train_doc"), col("h"))
    val te = lab.filter(col("split") === "test").select(col("doc_id").as("test_doc"), col("h"))
    val hits = te
      .join(tr, "h")
      .groupBy(col("test_doc"))
      .agg(
        count_distinct(col("train_doc")).as("n_train_partners"),
        count_distinct(col("h")).as("n_leaked")
      )
    te.groupBy(col("test_doc"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("test_doc"), "left")
      .select(
        col("test_doc"),
        coalesce(col("n_train_partners"), lit(0L)).as("n_train_partners"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        col("n_shingles"),
        (coalesce(col("n_leaked"), lit(0L)).cast("double") / col("n_shingles")).as("leak_ratio")
      )
  }

  /** Candidate context lengths c72 evaluates — powers of two spanning
    * the corpus's length distribution (docs run 10-99 tokens, so the
    * small candidates truncate and the large ones pad: both branches
    * of the report carry signal at the test SFs).
    */
  val PackCandidateLengths: Seq[Int] = Seq(32, 64, 128, 256)

  /** C72: packing-efficiency report — for each candidate context
    * length, what a truncate-and-pack build (c25's grid at per-doc
    * granularity) costs: docs truncated, tokens lost to truncation,
    * bins needed, padding waste in the last bin, and the packed-token
    * efficiency. The report a team reads BEFORE fixing the context
    * length (c50's histogram shows the length distribution; this
    * prices each choice). All integer arithmetic off ONE corpus scan —
    * the explode multiplies rows by #candidates before a 4-group
    * map-side-combined aggregate, the only shuffle is 4 partial rows
    * per task; efficiency divides two exact longs once.
    */
  def c72PackingEfficiency(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      .select(explode(array(PackCandidateLengths.map(l => lit(l.toLong)): _*)).as("ctx_len"), col("nt"))
      .groupBy(col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        count(when(col("nt") > col("ctx_len"), 1)).as("n_truncated"),
        sum(when(col("nt") > col("ctx_len"), col("nt") - col("ctx_len")).otherwise(lit(0L))).as("tokens_lost"),
        sum(least(col("nt"), col("ctx_len"))).as("tokens_kept")
      )
      .withColumn("n_bins", expr("(tokens_kept + ctx_len - 1) DIV ctx_len"))
      .withColumn("pad_waste", col("n_bins") * col("ctx_len") - col("tokens_kept"))
      .withColumn("efficiency", col("tokens_kept").cast("double") / (col("n_bins") * col("ctx_len")).cast("double"))

  /** c80: number of perplexity buckets (CCNet's head/middle/tail). */
  val CcnetTiles = 3

  /** C80: CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020, arXiv:1911.00359): each language's documents split into
    * equal head/middle/tail thirds by LM score, so downstream mixes can
    * keep "head" (most wiki-like) text without starving low-resource
    * languages — the RELATIVE-quality cousin of c64's top-fraction
    * gate, here over the c15 bigram-LM score instead of c9's heuristic.
    *
    * A naive NTILE(3) OVER (PARTITION BY lang ...) serializes each
    * language into one task — with ~10 languages over 100 TB that is
    * ~10 sort tasks of 10 TB each. This runs the b43 two-phase shape
    * instead: an integer score bucket (monotone in lm_score) splits
    * each language into parallel-sortable slices, per-(lang, bucket)
    * counts make a tiny offset frame (the only low-cardinality window
    * runs there), and the tile is [[Relational.ntileFromRank]]'s
    * exact integer arithmetic on the reconstructed global rank —
    * provably NTILE, never a per-language sort.
    */
  def c80CcnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = TextAnalysis.c15BigramLmScore(spark, sfDir).select(col("doc_id"), col("lm_score"))
    // checkpoint the per-doc score frame: the tiler consumes it TWICE
    // (bucket counts + the final join) and without the barrier each
    // branch would re-run c15's bigram-frequency join and aggregation
    c80CcnetBucketsFrom(
      scores
        .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint()
    )
  }

  /** The two-phase tercile assignment over any (doc_id, lang, lm_score)
    * frame — split out so randomized trials can drive it with planted
    * group sizes hitting every n mod 3 case (including n < 3).
    */
  def c80CcnetBucketsFrom(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = scored
      .withColumn("bkt", floor(col("lm_score")).cast("long"))
    val counts = rows.groupBy(col("lang"), col("bkt")).agg(count(lit(1)).as("cnt"))
    val wOff = Window
      .partitionBy(col("lang"))
      .orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("lang"))
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(col("lang"), col("bkt"), col("offset"), col("n"))
    val wb = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("lm_score"), col("doc_id"))
    rows
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("grn", col("offset") + row_number().over(wb))
      .withColumn("tl", Relational.ntileFromRank(CcnetTiles).cast("long"))
      .select(
        col("doc_id"),
        col("lang"),
        col("lm_score"),
        when(col("tl") === 1, lit("tail"))
          .when(col("tl") === 2, lit("middle"))
          .otherwise(lit("head"))
          .as("ppl_bucket")
      )
  }
}
