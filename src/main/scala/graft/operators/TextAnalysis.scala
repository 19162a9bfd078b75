package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.TextDedup.{MinHashParams, ShingleSize}
import graft.sources.Tables

/** Text analysis operators over `documents` (SURVEY.md §2 C-series):
  * language ID, quality scoring, token counting, fingerprinting.
  * All pure column expressions — one narrow scan, no shuffle at all
  * except the fingerprint aggregation.
  */
object TextAnalysis {

  /** Marker words per language, drawn from the corpus vocabulary.
    * (doc-id-ordered tie-break: first match in declaration order wins.)
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "table"),
    "fr" -> Seq("merge", "line"),
    "de" -> Seq("order", "group"),
    "zh" -> Seq("key", "value")
  )

  /** Marker-hit count = Σ per-marker occurrence counts from ONE native
    * [[graft.plans.TermCountsExpr]] pass (round-14; the old
    * `size(filter(words, OR of equalities))` interpreted its lambda per
    * token — CodegenFallback). Exact: marker lists are distinct
    * strings, so a token matches at most one marker and the sum counts
    * each matching token exactly once, multiplicity preserved; a null
    * token matches nothing either way; a null array propagates null.
    */
  private def markerScore(words: Column, ms: Seq[String]): Column = {
    require(ms.distinct == ms, "marker lists must be distinct for the count-sum form")
    val tc = graft.plans.TermCountsExpr.termCounts(words, ms)
    ms.indices.map(i => element_at(tc, i + 1).cast("long")).reduce(_ + _)
  }

  /** c8's language ID as a df→df transform over any frame with a `text`
    * column: adds per-language marker scores `s_<lang>` and the argmax
    * `pred_lang` (fixed tie-break order). Pure row-local column math —
    * applies verbatim to a stream (Sampling.curationStream).
    */
  def langPredicted(docs: DataFrame): DataFrame = {
    // reuse an upstream token array (qualityScored keeps its `w`) so a
    // chained quality→langid pipeline splits each text ONCE
    val base = if (docs.columns.contains("w")) docs else docs.withColumn("w", tokens(col("text")))
    val scored = Markers.foldLeft(base) { case (df, (lang, ms)) =>
      df.withColumn(s"s_$lang", markerScore(col("w"), ms))
    }
    val langs = Markers.map(_._1)
    val pred = langs.zipWithIndex
      .foldRight(lit(langs.last): Column) { case ((lang, _), elseCol) =>
        val mine = col(s"s_$lang")
        val geAll = langs
          .map(o => mine >= col(s"s_$o"))
          .reduce(_ && _)
        when(geAll, lit(lang)).otherwise(elseCol)
      }
    scored.withColumn("pred_lang", pred).drop("w")
  }

  /** C8: n-gram/marker-word language ID. Scores each language's marker
    * list against the token stream; argmax with a fixed tie-break order.
    */
  def c8TextLangid(spark: SparkSession, sfDir: String): DataFrame =
    langPredicted(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id") +: col("pred_lang") +: Markers.map { case (l, _) => col(s"s_$l") }: _*)

  val Stopwords: Seq[String] = Seq("the", "a")

  /** c9's scoring as a df→df transform over any frame with a `text`
    * column: adds n_tokens / n_stop / alpha_chars / n_chars /
    * quality_score. Row-local, stream-applicable.
    */
  def qualityScored(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", tokens(col("text")))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_stop", markerScore(col("w"), Stopwords))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn(
        "quality_score",
        // empty text scores 0, not NULL — the 0/0 division would yield
        // NULL and silently pass every `quality_score < t` filter, the
        // opposite of what a quality gate must do with an empty doc
        // (n_tokens is never 0: split("", " ") yields [""])
        when(col("n_chars") === 0, lit(0.0)).otherwise(
          col("n_stop").cast("double") / col("n_tokens") * 0.4 +
            col("alpha_chars").cast("double") / col("n_chars") * 0.3 +
            least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3
        )
      )
      // `w` is kept on purpose: langPredicted reuses it (single split),
      // and both c9 and curationRows project it away explicitly

  /** C9: quality scoring — length, alpha ratio, stopword ratio folded
    * into one deterministic score (identical FP expression in the
    * oracle).
    */
  def c9TextQuality(spark: SparkSession, sfDir: String): DataFrame =
    qualityScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("alpha_chars"), col("n_chars"), col("quality_score"))

  /** C10: token counting — whitespace tokens and a BPE-ish regex count
    * (letter runs / single digits / other non-space symbols).
    */
  def c10TextTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]")).cast("long").as("n_bpe_tokens")
      )

  /** C14: TF-IDF top terms — term frequency × inverse document
    * frequency, ranked per doc. The score uses only mult/div (no log)
    * so it is IEEE-exact cross-engine; rank ties break on the term.
    * Scale: tf is one shuffle on (doc, term); df one on term; the rank
    * is a bounded per-doc sort.
    */
  def c14TfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // scalar agg folded into the plan (single-row broadcast) — a
    // docs.count() would be an extra job/scan at every call site
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // checkpointed: the df branch and the final join both consume tf —
    // without the barrier each re-runs the token explode + its shuffle
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // no broadcast hint on df: the vocabulary is corpus-sized (billions
    // of terms at 100 TB) — AQE broadcasts when it is actually small
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** C15: n-gram language-model quality score — the perplexity-filter
    * analogue for training-data pipelines. The corpus bigram table is
    * the "language model"; a doc scores the average corpus frequency of
    * its bigrams (integer counts, one double division at the end, so
    * the score is engine-exact). Low score = improbable token
    * sequences = candidate for filtering. Two shuffles total (bigram
    * counts, per-doc agg) at any corpus size.
    */
  def c15BigramLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    // explode_OUTER + isNotNull for the same reason as
    // TextDedup.shingleHashes (plain explode's inferred size() filter
    // re-evaluates the token-hash transform below the projection), and
    // localCheckpoint because bg feeds BOTH the frequency aggregation
    // and the join — without it the tokenize+md5 pipeline runs twice
    val bg = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), md5Tokens(tokens(col("text")), 8).as("ht"))
      .select(col("doc_id"), explode_outer(rollingShingleHashes(col("ht"), 2)).as("h"))
      .filter(col("h").isNotNull)
      .localCheckpoint()
    val freq = bg.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    bg.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("freq")).as("sum_freq"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        (col("sum_freq").cast("double") / col("n_bigrams")).as("lm_score")
      )
  }

  /** C16: near-dup clustering — connected components over the Jaccard
    * near-dup pair graph, labels = smallest doc_id in the component
    * (the canonical survivor of "keep one per cluster"). Iterative
    * min-label propagation, the standard Pregel-style loop: rounds =
    * component diameter (tiny for dedup graphs), each round one keyed
    * join — no driver-side data beyond the convergence counter.
    */
  /** The cluster frame, localCheckpointed and amortized per
    * (application, sfDir) like c3's pair set: the connected-components
    * loop is a chain of many SMALL jobs (join + agg + checkpoint +
    * count per round over the tiny edge frame), so its cost is almost
    * pure fixed job overhead — and FIVE gate queries consume the
    * cluster frame (c16, c33, c45, c51, c76). Re-running the loop per
    * consumer multiplied that overhead; the output is deterministic
    * (min-label CC over a deterministic pair set), so every consumer
    * sees identical rows.
    */
  private val clusterCache = new graft.core.AppScopedCache[DataFrame]

  def c16DedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // pairs come from the LSH scale path (c3), not the inverted-index
    // baseline (c2) — identical verified output contract (both emit
    // exactly the Jaccard ≥ 0.8 pairs; zero-miss banding is the c3
    // invariant), but candidates stay bucket-bounded at corpus scale.
    // c3MinHashLsh is amortized per (application, sfDir), so a session
    // running both c3 and c16 computes the LSH pass once.
    clusterCache.getOrElseUpdate(spark.sparkContext, sfDir) {
      c16DedupClustersFrom(TextDedup.c3MinHashLsh(spark, sfDir)).localCheckpoint()
    }

  /** Connected-components clustering over any near-dup pair frame with
    * (doc_a, doc_b) columns — callers with pairs from another detector
    * (c2's capped inverted index, c4's SimHash, c17's embedding LSH)
    * cluster without re-running c3.
    */
  def c16DedupClustersFrom(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .localCheckpoint()
    // seed with min(self, neighbors) — identical to what the first
    // propagation round computes from self-labels, so the loop starts
    // one round further along
    var labels = edges
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min(col("doc_b")).as("mn"))
      .select(col("doc_id"), least(col("doc_id"), col("mn")).as("label"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("nb"), col("label").as("nlabel")), col("doc_b") === col("nb"))
        .groupBy(col("doc_a").as("nd"))
        .agg(min(col("nlabel")).as("best"))
      // checkpoint FIRST, then count from the checkpoint — counting the
      // un-materialized frame and THEN eagerly checkpointing it would
      // execute every round's join twice
      val updated = labels
        .join(neighborMin, col("doc_id") === col("nd"), "left")
        .select(
          col("doc_id"),
          least(col("label"), coalesce(col("best"), col("label"))).as("label"),
          (col("best") < col("label")).as("improved")
        )
        .localCheckpoint()
      changed = updated.filter(col("improved")).count()
      labels = updated.select(col("doc_id"), col("label"))
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** C51: duplicate-cluster size distribution — how big the near-dup
    * clusters are: (cluster size, number of clusters of that size).
    * The first diagnostic after any dedup pass: a long tail of large
    * clusters means heavy syndication/boilerplate (and predicts how
    * much c33's keep-one-per-cluster will shrink the corpus); all-2s
    * means incidental duplication. Rides the amortized c3 pair set
    * (like c16/c33/c45), then two tiny keyed aggregations over frames
    * whose size is ∝ duplication, not corpus.
    */
  def c51ClusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    c16DedupClusters(spark, sfDir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .groupBy(col("n_members"))
      .agg(count(lit(1)).as("n_clusters"))

  /** C27: intra-document repetition — the fraction of duplicated word
    * 5-gram shingles per document, the Gopher-style repetition quality
    * signal (high dup_ratio ⇒ looping/boilerplate text a training mix
    * should drop). Both counts are array expressions over the doc's
    * own (non-deduped) shingle array, so the operator is a zero-shuffle
    * narrow scan at any corpus size (PlanSpec-asserted).
    */
  def c27DocRepetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** c27's scoring as a df→df transform over any frame with
    * (doc_id, text) — row-local, stream-applicable (parity spec in
    * StreamingSpec).
    */
  def repetitionScored(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5Tokens(tokens(col("text")), 8).as("ht"))
      .select(col("doc_id"), rollingShingleHashes(col("ht"), ShingleSize).as("hs"))
      .select(
        col("doc_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"),
        when(
          size(col("hs")) > 0,
          lit(1.0) - size(array_distinct(col("hs"))).cast("double") / size(col("hs"))
        ).otherwise(lit(0.0)).as("dup_ratio")
      )

  /** Chunking geometry for [[c31DocChunking]] — the standard
    * pre-embedding overlapping-window split. Sized so the gate corpus
    * (≈50-token docs) actually produces multi-chunk documents at every
    * test SF; production geometry (128/96 etc.) is a parameter choice,
    * not a structural one.
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** C31: document chunking — split each document into overlapping
    * fixed-size token windows (the preprocessing step before embedding
    * or packing long corpora). Entirely row-local: the chunk count and
    * every chunk slice are array expressions over the doc's own token
    * array, so the operator is a narrow scan + generate with no
    * shuffle at any corpus size. Chunk text is verified by md5 (the
    * c22 idiom — the oracle hashes the same joined tokens, so any
    * off-by-one in the window math breaks the match without dumping
    * full text).
    */
  def c31DocChunking(spark: SparkSession, sfDir: String): DataFrame =
    chunked(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** c31's chunking as a df→df transform over any frame with
    * (doc_id, text) — row-local, stream-applicable (parity spec in
    * StreamingSpec).
    */
  def chunked(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn(
        "nc",
        greatest(ceil((size(col("w")) - ChunkSize).cast("double") / ChunkStride).cast("int"), lit(0)) + 1
      )
      .select(col("doc_id"), col("w"), explode(sequence(lit(0), col("nc") - 1)).as("ci"))
      .select(
        col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        slice(col("w"), col("ci") * ChunkStride + 1, lit(ChunkSize)).as("cw")
      )
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(col("cw")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("cw"))).as("chunk_md5")
      )

  /** CDC geometry: rolling window (tokens per boundary test) and the
    * divisor — a boundary lands after token p whenever the window
    * hash ending at p is ≡ 0 (mod divisor), so expected chunk length
    * ≈ divisor tokens. Window 4 reuses the repo's overflow-proof
    * polynomial rolling hash ([[graft.functions.TextFunctions.rollingShingleHashes]]).
    */
  val CdcWindow = 4
  val CdcDivisor = 8L

  /** C102: CONTENT-DEFINED chunk dedup (Rabin/FastCDC's boundary
    * idiom over tokens) — the insertion-robust sibling of c38's
    * fixed-width chunk dedup. Fixed-width chunking has a known
    * failure: inserting ONE token shifts every later boundary, so a
    * near-copy with a new preamble shares ZERO fixed chunks with its
    * source. CDC cuts where the CONTENT's rolling hash hits a
    * residue, so boundaries re-synchronize right after any edit and
    * the untouched tail deduplicates chunk-for-chunk (the property
    * backup/dedup systems — and chunk-level corpus dedup — rely on;
    * the planted insertion spec asserts it against c38's chunker on
    * the same pair). Per doc the whole chunking is ONE row-local
    * expression chain (token hashes → rolling window hashes →
    * boundary positions → per-chunk md5): nothing but (doc_id,
    * chunk_md5, tok_len) ever reaches the exchange — text never
    * rides a shuffle — and the single groupBy(chunk_md5) is map-side
    * combined with output ∝ duplication. Oracle mirrors the identical
    * list algebra (generate_series/list_filter/list slices); the
    * rolling hash is the established cross-engine polynomial, so the
    * gate is hash-exact. At 100 TB: chunking is embarrassingly
    * parallel map work; the dedup shuffle carries 48-byte digests.
    */
  def c102CdcChunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunks(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        min(col("tok_len")).cast("long").as("tok_len")
      )
      .filter(col("n_occurrences") >= 2)

  /** c102's chunker as a df→df transform over any (doc_id, text)
    * frame — row-local, stream-applicable (c31's factoring). Emits
    * one row per chunk: (doc_id, chunk_md5, tok_len).
    */
  def cdcChunks(docs: DataFrame): DataFrame = {
    // STAGED projections, not one nested expression: each array column
    // (ht→rh, bpos, starts/ends) is referenced more than once
    // downstream, and a lambda body that embeds the upstream ARRAY
    // EXPRESSION re-evaluates the whole chain per element — the
    // single-expression form measured O(n²·md5) per doc (minutes at
    // sf0.01). Project boundaries make each array an attribute, built
    // once per row (CollapseProject keeps non-cheap multi-referenced
    // aliases in their own stage).
    val s0 = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val s1 = s0.select(
      col("doc_id"),
      col("toks"),
      md5Tokens(col("toks"), 8).as("ht")
    )
    val s2 = s1.select(
      col("doc_id"),
      col("toks"),
      size(col("toks")).as("n"),
      graft.functions.TextFunctions.rollingShingleHashes(col("ht"), CdcWindow).as("rh")
    )
    // cut AFTER token p for p ∈ [window, n−1] iff the window ending at
    // p hashes to the residue; rh(i) covers tokens i..i+window−1, so
    // the window ending at p is rh(p − window + 1). Round 15: the
    // boundary scan is the codegen'd cdc_boundaries kernel — the
    // filter-over-sequence lambda interpreted an element_at + mod per
    // position, and the +1-shifted starts needed a second transform
    // lambda; the kernel emits either offset directly (two cheap rh
    // passes), the when(n−1 ≥ window, …, empty) guard folded in.
    val s3 = s2.select(
      col("doc_id"),
      col("toks"),
      col("n"),
      graft.plans.TextStatKernels.cdcBoundaries(col("rh"), col("n"), CdcWindow, CdcDivisor, 0).as("bpos"),
      graft.plans.TextStatKernels.cdcBoundaries(col("rh"), col("n"), CdcWindow, CdcDivisor, 1).as("bpos1")
    )
    val s4 = s3.select(
      col("doc_id"),
      col("toks"),
      concat(array(lit(1)), col("bpos1")).as("starts"),
      concat(col("bpos"), array(col("n"))).as("ends")
    )
    // explode the (start, end) ranges FIRST, hash each chunk once from
    // the row-local token array — still zero exchanges before the
    // digest-only aggregate. The ordinal rides along for the streaming
    // parity leg (ChunkRow wants (doc, idx, md5)); c102's aggregate
    // ignores it.
    s4.select(
      col("doc_id"),
      col("toks"),
      posexplode(arrays_zip(col("starts"), col("ends"))).as(Seq("ci", "r"))
    ).select(
      col("doc_id"),
      col("ci").cast("long").as("chunk_idx"),
      md5(
        array_join(
          slice(col("toks"), col("r.starts"), col("r.ends") - col("r.starts") + 1),
          " "
        )
      ).as("chunk_md5"),
      (col("r.ends") - col("r.starts") + 1).cast("long").as("tok_len")
    )
  }

  /** C33: the canonical corpus after near-dup collapse — each near-dup
    * cluster (c16 over the amortized c3 pair set) keeps only its
    * canonical member (the min-id label), documents outside any
    * cluster keep themselves. The "emit the deduped corpus" step that
    * closes the detector → clusters → corpus loop; the big side is one
    * broadcast-able left join of the tiny label frame against a narrow
    * documents scan.
    */
  def c33CanonicalCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(c16DedupClusters(spark, sfDir), Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** C45: quality-canonical selection — c33's near-dup collapse with
    * the PRODUCTION survivor rule: each cluster keeps its
    * HIGHEST-QUALITY member (c9's score; tie → min doc_id), not its
    * min-id member — when a boilerplate-heavy copy and a clean copy
    * near-duplicate each other, the clean one must survive (the
    * RefinedWeb/FineWeb selection idiom). Singletons are their own
    * cluster (COALESCE to doc_id), so one uniform argmax covers the
    * whole corpus.
    *
    * Scale: quality is row-local (c9); the cluster label join is
    * hash-keyed on doc_id; the argmax is the native
    * [[graft.plans.TopKPerKey]] k=1 — bounded per-partition heaps over
    * (cluster, score) candidates, never a per-cluster sort, and since
    * singleton clusters dominate real corpora the heap candidate set is
    * ≈ one row per doc either way. Double comparisons are exact (no
    * arithmetic on the score beyond c9's own hash-exact expression).
    */
  def c45QualityCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = qualityScored(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
    ).select(col("doc_id"), col("lang"), col("quality_score"))
    val labeled = scored
      .join(c16DedupClusters(spark, sfDir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    graft.plans.TopKPerKey
      .topKPerKey(
        labeled,
        keyCols = Seq("cluster_id"),
        orderBy = Seq(("quality_score", false), ("doc_id", true)),
        k = 1
      )
      .select(col("cluster_id"), col("doc_id"), col("lang"), col("quality_score"))
  }

  /** C11: document fingerprinting — min and mod-P sum of md5-derived
    * shingle hashes (a rolling-hash family): order-independent,
    * engine-reproducible, and stable under shingle reordering.
    */
  def c11TextFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup
      .shingleHashes(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(
        min(col("h")).as("fp_min"),
        (sum(col("h")) % MinHashParams.P).as("fp_sum")
      )

  /** c88: winnowing window — consecutive shingle hashes per selection
    * window; guarantees any shared run of ≥ WinnowW + ShingleSize − 1
    * tokens shares a fingerprint.
    */
  val WinnowW = 4

  /** C88: WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): slide a [[WinnowW]]-window over the ordered
    * shingle-hash sequence and keep each window's MINIMUM, giving the
    * guarantee c11's single global min cannot: every shared token run
    * of length ≥ W+k−1 contributes at least one common fingerprint,
    * while the selected set stays a ~2/(W+1) fraction of all shingles
    * — the document-overlap detector plagiarism/citation pipelines
    * run where MinHash's set-resemblance is the wrong question
    * (localized copying, not whole-doc similarity). Entirely
    * ROW-LOCAL array math (window minima inside the hash array, then
    * a distinct fold) — fingerprinting 100 TB is a pure map; the
    * per-doc summary (count, min, modular sum of the distinct
    * selected set) is integer-exact, bit-identical in DuckDB.
    */
  def c88Winnowing(spark: SparkSession, sfDir: String): DataFrame =
    c88WinnowingFrom(Tables.documents(spark, sfDir))

  /** The winnowing pipeline over any (doc_id, text) frame — split out
    * so the spec can plant documents sharing a guaranteed-length run.
    */
  def c88WinnowingFrom(docs: DataFrame): DataFrame = {
    val P = MinHashParams.P
    winnowSelected(docs)
      .select(
        col("doc_id"),
        col("nw").cast("long").as("n_windows"),
        size(col("sel")).cast("long").as("n_fingerprints"),
        array_min(col("sel")).as("fp_min"),
        // round 15: codegen'd array_sum_long replaces the aggregate
        // lambda — same left-to-right long sum, same null semantics
        when(size(col("sel")) > 0, graft.plans.TextStatKernels.arraySum(col("sel")) % P).as("fp_sum")
      )
  }

  /** The shared winnowing selection: (doc_id, nw, sel) where `sel` is
    * the distinct per-window-minimum fingerprint set — consumed by
    * c88's summary and c89's inverted index.
    */
  private def winnowSelected(docs: DataFrame): DataFrame = {
    val W = WinnowW
    docs
      .select(col("doc_id"), md5Tokens(tokens(col("text")), 8).as("ht"))
      // TWO materialization barriers, one per array-consuming stage:
      // an array-valued child expression is RE-EVALUATED on every
      // element access of its consumer (interpreted higher-order
      // functions do no subexpression caching), so rolling hashes over
      // an inline md5-transform cost O(n²) md5 calls per doc (measured
      // 78 s at sf0.1 for a 0.3 s pipeline), and the window pass over
      // an inline rolling-hash expression would repeat the same
      // blowup. Checkpointed frames are hash-sized, never text-sized.
      .localCheckpoint()
      .select(col("doc_id"), rollingShingleHashes(col("ht"), ShingleSize).as("hs"))
      .localCheckpoint()
      .withColumn("nw", greatest(size(col("hs")) - W + 1, lit(0)))
      // round 15: distinct window minima as ONE codegen'd kernel pass
      // (winnow_mins) — the transform spelling interpreted a W-way
      // least lambda per window plus an array_distinct allocation; the
      // kernel folds window-min + first-occurrence dedup into a single
      // loop with the identical tie/order/empty semantics (documented
      // at the kernel; the when(nw > 0, …, empty) guard is folded in)
      .withColumn("sel", graft.plans.TextStatKernels.winnowMins(col("hs"), W))
      .select(col("doc_id"), col("nw"), col("sel"))
  }

  /** c89: minimum shared winnowing fingerprints for a reported pair
    * (MOSS reports matches above a match-count floor).
    */
  val MossMinShared = 2

  /** C89: MOSS match detection — the consumer c88's fingerprints exist
    * for: an inverted index over the WINNOWED set (a ~2/(W+1) fraction
    * of all shingles — the compression is why MOSS scales) pairs
    * documents sharing ≥ [[MossMinShared]] fingerprints, surfacing
    * LOCALIZED copying (a lifted paragraph in an otherwise-different
    * doc) that whole-document Jaccard scores near zero. Hot
    * fingerprints (boilerplate phrases) are df-capped before the
    * self-join exactly like c2's shingle index — the same hot-key
    * bound, ≤ cap² pairs per fingerprint on any corpus. Counts are
    * integers; the oracle composes the c88 selection verbatim.
    */
  def c89MossPairs(spark: SparkSession, sfDir: String): DataFrame =
    c89MossPairsFrom(Tables.documents(spark, sfDir))

  /** The MOSS detection over any (doc_id, text) frame — split out so
    * the spec can plant a lifted-paragraph pair.
    */
  def c89MossPairsFrom(docs: DataFrame): DataFrame = {
    import graft.operators.TextDedup.MaxShingleDf
    val fps = winnowSelected(docs)
      .select(col("doc_id"), explode(col("sel")).as("h"))
      .localCheckpoint()
    val hot = fps.groupBy(col("h")).agg(count(lit(1)).as("df")).filter(col("df") > MaxShingleDf).select(col("h"))
    val kept = fps.join(hot, Seq("h"), "left_anti")
    kept
      .select(col("doc_id").as("doc_a"), col("h"))
      .join(kept.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= MossMinShared)
  }

  /** c47 span width in tokens (rolling-hash window; ≤ 7 per
    * [[graft.functions.TextFunctions.rollCoeffs]]'s overflow bound).
    */
  val DupSpanW = 5

  /** C47: duplicated-span coverage — the SUBSTRING-level dedup signal
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr): a token position is DUPLICATED iff
    * some [[DupSpanW]]-token window covering it occurs more than once
    * in the corpus (intra- or inter-document — a verbatim quote, a
    * boilerplate header, a self-repeating doc all count). Per-doc
    * output = covered-position count and fraction; only docs touched
    * by duplication appear (output ∝ duplication, not corpus). The
    * full suffix-array machinery of the paper finds arbitrary-length
    * repeats; fixed-width overlapping windows are the standard
    * distributed approximation — any repeat ≥ W tokens is covered
    * exactly, shorter ones are ignored. Completes the dedup family:
    * c1 whole-doc, c2/c3/c4 near-dup, c38/c43 chunk-grid, c27
    * intra-doc repetition — this is the position-level cross-corpus
    * signal.
    *
    * Scale: window hashes are row-local 8-byte longs
    * ([[graft.functions.TextFunctions.rollingShingleHashes]] — text
    * never shuffles); the occurrence count shuffles (hash) pairs with
    * map-side combine; the duplicate probe is a hash-keyed join of
    * ints; coverage is an exploded (doc_id, idx) count-distinct —
    * two-phase partial aggregation, W ints per duplicated occurrence.
    * The occurrence frame is checkpointed once (c38's pattern: it
    * feeds both the count and the probe; recomputing would re-hash
    * the corpus).
    */
  def c47DupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        md5Tokens(col("w"), 8).as("ht")
      )
    val occ = toks
      .select(
        col("doc_id"),
        posexplode_outer(rollingShingleHashes(col("ht"), DupSpanW)).as(Seq("pos", "h"))
      )
      .filter(col("h").isNotNull)
      .localCheckpoint()
    // the duplicate list is unbounded (∝ corpus duplication — 4.4M
    // hashes at natural sf10), so the probe must stay a KEYED join:
    // Catalyst's post-aggregate stats underestimate it and pick a
    // broadcast that OOMs the driver at scale (measured). The hint
    // pins the scale-safe shuffled-hash plan; both sides shuffle on h.
    val dup = occ
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"))
      .hint("shuffle_hash")
    val cov = occ
      .join(dup, Seq("h"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (DupSpanW - 1))).as("idx"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("idx")).as("n_dup_tokens"))
    cov
      .join(toks.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_dup_tokens"),
        (col("n_dup_tokens").cast("double") / col("n_tokens")).as("dup_frac")
      )
  }

  /** C103: ExactSubstr variable-length duplicated-span removal signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better") — the MAXIMAL-span upgrade of c47. c47 reports
    * per-doc coverage of fixed-width duplicated windows; the paper's
    * suffix-array tool emits the maximal duplicated substrings
    * themselves (a 60-token verbatim quote is ONE span, not ⌈60/W⌉
    * fragments), because the removal stage cuts those exact intervals.
    *
    * Distributed form: a position's [[DupSpanW]]-token window is
    * duplicated iff its rolling hash occurs ≥ 2 times corpus-wide
    * (c47's stream); within a doc, a run of CONSECUTIVE duplicated
    * window starts extends a span one token at a time — the extension
    * is kept exactly while the next window still repeats — and each
    * maximal run is one emitted span covering tokens
    * [min_start, max_start + W − 1]. A repeat of length L ≥ W yields
    * L − W + 1 consecutive duplicated windows, so its span comes back
    * at its FULL length L (planted-spec-asserted at L = 60). This is
    * precisely the union-of-maximal-repeats interval set the paper's
    * removal consumes: adjacent overlapping repeats merge, sub-window
    * repeats (< W tokens) are below resolution — the standard
    * distributed relaxation of the suffix array.
    *
    * Scale shape: window hashes are row-local longs over the doc's own
    * token array (text never shuffles); the duplicate list is one
    * hash-keyed aggregate with map-side combine; the probe join keys
    * on the same hash; the run merge is a doc-keyed window function
    * over (doc_id, pos) INT pairs — gaps-and-islands, one exchange on
    * doc_id, output ∝ duplication. The occurrence stream is
    * checkpointed once (it feeds both the count and the probe — c47's
    * pattern).
    */
  def c103ExactSubstrSpans(spark: SparkSession, sfDir: String): DataFrame =
    exactSubstrSpansFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** c103 over any (doc_id, text) frame — split out so the spec can
    * plant a maximal 60-token duplicated span (c89's factoring).
    */
  def exactSubstrSpansFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), md5Tokens(col("w"), 8).as("ht"))
      .select(
        col("doc_id"),
        posexplode_outer(rollingShingleHashes(col("ht"), DupSpanW)).as(Seq("pos", "h"))
      )
      .filter(col("h").isNotNull)
      .localCheckpoint()
    // keyed probe, never broadcast — the dup list is ∝ duplication
    // (c47's scale note: the stats misestimate OOMs the driver at sf10)
    val dup = occ
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"))
      .hint("shuffle_hash")
    // 1-based window start (the oracle's generate_series origin)
    val starts = occ.join(dup, Seq("h")).select(col("doc_id"), (col("pos") + 1).as("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    starts
      .withColumn("isl", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        min(col("i")).cast("long").as("span_start"),
        (max(col("i")) + (DupSpanW - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows")
      )
  }

  /** Vocabulary size for [[c48VocabCoverage]] — small enough to be a
    * broadcast literal AND strictly smaller than the synthetic corpus
    * vocabulary (31 distinct terms at every SF), so both the in-vocab
    * and the OOV side are exercised (spec-asserted).
    */
  val VocabV = 16

  /** C48: tokenizer-vocabulary coverage — for a fixed top-V corpus
    * vocabulary (frequency-ranked, term tie-break), each document's
    * in-vocab token share and its count of distinct OOV types. The
    * standard pre-tokenizer diagnostic for a training mix: low coverage
    * = the tokenizer will fragment the doc into byte-fallback pieces;
    * high OOV-type count = vocabulary pressure from this source.
    *
    * Scale: the vocabulary is ONE term-keyed shuffle with map-side
    * combine plus a bounded global top-V (TakeOrdered — V rows ever
    * reach the driver, same bounded-artifact contract as the IVF
    * centroids); the scoring pass embeds the V terms as an array
    * literal, so it is a single row-local corpus scan — NO join, NO
    * exchange (plan-asserted). At 100 TB the corpus is scanned twice
    * (freq + score) and text never shuffles.
    */
  def c48VocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vocab: Array[String] = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(VocabV)
      .collect()
      .map(_.getString(0))
    // round 15: membership + distinct-OOV counting as ONE codegen'd
    // kernel pass (vocab_stats) with the vocabulary as a reference-held
    // hash set — the two filter lambdas interpreted a map probe per
    // token per filter, and array_distinct allocated a per-row array
    // just to take its size. O(1) probe per token either way; same
    // integers by construction (binary string equality both sides).
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("vs", graft.plans.TextStatKernels.vocabStats(col("w"), vocab.toSeq))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        col("vs.n_in_vocab").as("n_in_vocab"),
        col("vs.n_oov_types").as("n_oov_types")
      )
      .withColumn(
        "coverage",
        when(col("n_tokens") > 0, col("n_in_vocab").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0))
      )
  }

  /** C38: cross-document duplicated-chunk ratio — the segment-level
    * dedup signal (the CCNet / RefinedWeb line-dedup idea at c31's
    * chunk granularity, where this corpus has no line structure): a
    * chunk instance is a DUPLICATE iff the canonical instance of its
    * md5 — the lexicographically minimal (doc_id, chunk_idx) — is some
    * other instance. Documents full of content that already exists
    * elsewhere score high and get down-weighted or cut by a mix build;
    * c1 catches only WHOLE-document copies, this catches partial reuse.
    *
    * Scale: chunking is row-local (c31); the canonical aggregate
    * shuffles (md5, ids) pairs only — never chunk text; the md5 join is
    * hash-keyed; the final per-doc aggregate folds map-side. Exact
    * integer counts and one correctly-rounded division — hash-exact.
    */
  def c38ChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = chunked(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
      .localCheckpoint() // feeds both the canonical agg and the join
    val canon = ch
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
      .select(col("chunk_md5"), col("first.doc_id").as("c_doc"), col("first.chunk_idx").as("c_idx"))
    ch.join(canon, Seq("chunk_md5"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("c_doc") =!= col("doc_id") || col("c_idx") =!= col("chunk_idx"), 1))
          .as("n_dup_chunks")
      )
      .withColumn("dup_chunk_ratio", col("n_dup_chunks").cast("double") / col("n_chunks"))
  }

  /** c37 geometry: 1024 hashed token buckets, target domain = the
    * `en` slice. DSIR (arXiv:2302.03169) scores data by an n-gram
    * importance ratio between a target and the raw distribution; the
    * LOG-likelihood form would hinge on libm `log`/`pow` rounding that
    * differs between engines, so the bucket classifier here is EXACT
    * integer math — bucket b is target-indicative iff
    * cnt_target[b] · tot_raw > cnt_raw[b] · tot_target (cross products
    * in DECIMAL(38,0) against DuckDB's HUGEINT, both exact) — and the
    * per-document score is a single correctly-rounded division of two
    * integers. Hash-exact across engines by construction.
    */
  val ImportanceBuckets = 1024
  val ImportanceTargetLang = "en"

  /** C37: DSIR-style importance scoring — how target-like each
    * document's token distribution is. Pass 1 aggregates the hashed
    * token-bucket histogram (map-side combinable, collapses to ≤ 1024
    * rows; the two totals and the per-bucket counts are the only
    * driver traffic — a bounded index artifact like c24's centroids).
    * Pass 2 scores every document ROW-LOCALLY: each token's bucket
    * indexes a broadcast-literal flag array, so the corpus never
    * shuffles and never joins — the plan every importance-weighted
    * mix build wants at 100 TB, where the corpus is the big side and
    * the classifier is 1 KiB.
    */
  def c37ImportanceScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
    val bucketed = docs.select(
      col("doc_id"),
      col("lang"),
      md5Tokens(tokens(col("text")), 8, mod = ImportanceBuckets).as("tb")
    )
    val stats = bucketed
      .select(col("lang"), explode(col("tb")).as("b"))
      .groupBy(col("b"))
      .agg(
        count(lit(1)).as("cr"),
        count(when(col("lang") === ImportanceTargetLang, 1)).as("ct")
      )
      .collect()
    val totR = stats.map(_.getLong(1)).sum
    val totT = stats.map(_.getLong(2)).sum
    // exact integer cross products (BigInt — no overflow at any corpus
    // size), mirrored by the oracle's HUGEINT arithmetic
    val flags = new Array[Int](ImportanceBuckets)
    stats.foreach { r =>
      val b = r.getLong(0).toInt
      if (BigInt(r.getLong(2)) * totR > BigInt(r.getLong(1)) * totT) flags(b) = 1
    }
    // round 15: the classifier probe is the codegen'd flag_count kernel
    // — the filter-lambda spelling interpreted element_at(flagsLit, b+1)
    // per token (and carried the 1024-int literal in the expression
    // tree); the kernel reads the flag table as a reference object and
    // counts in one loop, identical integers by construction
    bucketed
      .select(
        col("doc_id"),
        col("lang"),
        size(col("tb")).cast("long").as("n_tokens"),
        graft.plans.TextStatKernels.flagCount(col("tb"), flags).as("n_ind")
      )
      .withColumn("affinity", col("n_ind").cast("double") / col("n_tokens"))
  }

  /** C43: chunk-dedup REWRITE — the removal stage c38 only measures
    * (CCNet/RefinedWeb line dedup: strike duplicated segments, keep the
    * document remainder). The grid is NON-overlapping [[ChunkSize]]
    * windows so removal is well-defined and the cleaned text is a
    * reassembly of surviving chunks; an instance survives iff it is the
    * lexicographically-min (doc_id, chunk_idx) holder of its chunk md5
    * (intra-doc repeats lose too, like line dedup).
    *
    * Scale shape: the verdict travels as IDS ONLY — the canonical
    * aggregate and the removed-instance join shuffle (md5, doc, idx)
    * tuples, never chunk text; the per-doc removed list (only docs
    * that actually lose a chunk appear — a small fraction of any real
    * corpus, so it broadcasts) joins
    * back against a narrow documents scan, and the rebuild is entirely
    * row-local array math (filter the chunk grid, flatten, re-join
    * with spaces). Document text itself NEVER rides a shuffle
    * (plan-asserted) — the rewrite costs one extra hash join over
    * c38's measurement, not a corpus shuffle.
    */
  def c43ChunkDedupRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val grid = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("nc", ceil(size(col("w")).cast("double") / ChunkSize).cast("int"))
      .select(col("doc_id"), col("w"), explode(sequence(lit(0), col("nc") - 1)).as("ci"))
      .select(
        col("doc_id"),
        col("ci"),
        md5(concat_ws(" ", slice(col("w"), col("ci") * ChunkSize + 1, lit(ChunkSize)))).as("h")
      )
    val winners = grid
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("ci"))).as("win"))
    val removedPerDoc = grid
      .join(winners, "h")
      .filter(!(col("doc_id") === col("win.doc_id") && col("ci") === col("win.ci")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("ci")).as("removed"))
    val rw = col("w")
    docs
      .join(removedPerDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        tokens(col("text")).as("w"),
        coalesce(col("removed"), array().cast("array<int>")).as("removed")
      )
      .withColumn("nc", ceil(size(rw).cast("double") / ChunkSize).cast("int"))
      .withColumn(
        "kept_w",
        flatten(
          transform(
            filter(sequence(lit(0), col("nc") - 1), ci => !array_contains(col("removed"), ci)),
            ci => slice(rw, ci * ChunkSize + 1, lit(ChunkSize))
          )
        )
      )
      .select(
        col("doc_id"),
        col("nc").cast("long").as("n_chunks"),
        size(col("removed")).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept_w"))).as("cleaned_md5"),
        size(col("kept_w")).cast("long").as("cleaned_n_tokens")
      )
  }

  /** c41 sketch size: guarantees candidates above share 1/257 ≈ 0.39%,
    * comfortably under the 1% query threshold.
    */
  val HeavyHitterCapacity = 256

  /** C41: corpus-wide EXACT heavy hitters (vocabulary head) in two
    * bounded passes — the token-frequency job behind stopword lists,
    * tokenizer vocabularies, and boilerplate detection. Pass 1 folds
    * the token stream into a Misra-Gries summary ([[graft.plans.FreqItemsAgg]]):
    * each task carries at most `capacity` counters regardless of
    * vocabulary size, so nothing long-tail ever shuffles — the only
    * exchange is ≤ capacity-entry partial summaries. Pass 2 re-counts
    * just the ≤ capacity candidates (broadcast IN filter on the scan)
    * and applies the 1% share threshold in pure integer math
    * (cnt * 100 >= total — no float, engine-exact). Because the query
    * threshold (1%) exceeds the sketch guarantee (1/(capacity+1)),
    * every qualifying token is provably in the candidate set and the
    * output is exact — identical to a full groupBy count, without ever
    * shuffling the vocabulary tail.
    */
  def c41HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables
      .documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = toks
      .agg(
        graft.plans.FreqItemsAgg.freqItemCandidates(col("token"), HeavyHitterCapacity).as("cands"),
        count(lit(1)).as("total")
      )
      .head()
    val cands = sketch.getSeq[String](0)
    val total = sketch.getLong(1)
    toks
      .filter(col("token").isin(cands: _*))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(100L) >= lit(total))
  }

  /** c56: emit the top-K adjacent-character pairs — deep enough that
    * both frequent and rare pairs appear at every SF, small enough
    * that the final rank window runs over a bounded frame.
    */
  val BpeTopPairs = 20

  /** C56: BPE merge-candidate counting — the first round of byte-pair
    * tokenizer training (Sennrich et al. 2016): count adjacent
    * character pairs across the corpus weighted by word frequency, and
    * rank the top merge candidates. This is the inner loop of every
    * BPE/WordPiece vocabulary build; one round as a gate query proves
    * the distributed shape (the trainer iterates it).
    *
    * Scale shape: the corpus collapses to the VOCABULARY first (one
    * word-count shuffle with map-side combine — words repeat, so this
    * exchange is corpus→vocab compression, the standard BPE prep), the
    * pair explosion then runs over vocab rows × word length (row-local
    * transform over a sequence — never over raw corpus positions), and
    * the pair aggregate is bounded by alphabet² . The final rank is a
    * window over that bounded frame (meta-spec compliant: global
    * window over an aggregate). Text rides no exchange — words do, and
    * only as the deduplicated vocabulary.
    */
  def c56BpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables
      .documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = vocab
      .select(
        explode(
          when(
            length(col("w")) >= 2,
            transform(
              sequence(lit(1), length(col("w")) - 1),
              i => col("w").substr(i, lit(2))
            )
          ).otherwise(array().cast("array<string>"))
        ).as("pair"),
        col("cnt")
      )
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("n"))
    val w = Window.orderBy(col("n").desc, col("pair"))
    pairs
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BpeTopPairs)
  }

  /** Merge rounds c99 trains. Deep enough that merged symbols (3+
    * chars and the word-end marker) participate in later rounds at
    * every gate SF; small enough that the unrolled DuckDB oracle CTE
    * chain stays tractable.
    */
  val BpeTrainRounds = 12

  /** End-of-word marker appended as a standalone symbol, so merges
    * can distinguish word-final from word-internal contexts (Sennrich
    * et al. 2016's `</w>`). Space-free by construction, like every
    * symbol — the segmentation encoding below depends on that.
    */
  val BpeEndOfWord = "</w>"

  /** C99: the full iterative BPE tokenizer TRAINER — c56 is one round
    * of pair counting; this runs [[BpeTrainRounds]] complete merge
    * rounds (count adjacent symbol pairs weighted by word frequency →
    * adopt the argmax pair → re-segment the vocabulary) and emits the
    * learned merge table, i.e. the tokenizer itself (Sennrich et al.
    * 2016; the loop SentencePiece/HF tokenizers run).
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: the
    * corpus is touched exactly ONCE, collapsing to the word-frequency
    * vocabulary (map-side-combined count; corpus→vocab is a massive
    * compression — every production trainer starts here). Every merge
    * round then runs over VOCAB rows only: a row-local re-segmentation
    * projection plus one bounded pair aggregate (≤ symbols² keys).
    * The per-round argmax is a 1-row driver collect (the merge table
    * is a ≤[[BpeTrainRounds]]-row driver-held index artifact, c24's
    * trained-quantizer posture); the result frame is that table.
    *
    * Segmentation encoding: a word's symbols are joined with TWO
    * spaces and padded with one space each side, so the merge of pair
    * (l, r) is a plain `replace(s, " l  r ", " lr ")` — the pattern's
    * single-space boundaries align with the pad or with one space of a
    * separator, never inside a symbol (symbols are space-free), and
    * left-to-right non-overlapping `replace` IS standard BPE's greedy
    * merge order ("b b b" merges to (bb, b)). replace() has identical
    * semantics in Spark and DuckDB, so the oracle (an unrolled CTE
    * chain per round, OracleGen.c99BpeTrain) is hash-exact: counts are
    * integers, everything else is string algebra.
    */
  def c99BpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = bpeTrain(spark, sfDir)
    import spark.implicits._
    merges
      .toDF("round", "lhs", "rhs", "n")
      .select(col("round"), col("lhs"), col("rhs"), concat(col("lhs"), col("rhs")).as("merged"), col("n"))
  }

  /** C100: APPLY the learned tokenizer — segment the vocabulary with
    * c99's merge sequence and report per-symbol corpus token counts
    * (n_tokens = corpus-weighted occurrences, n_vocab_occurrences =
    * occurrences across vocabulary entries). This is the tokenize-the-
    * corpus half of the tokenizer story (train = c99, apply = c100):
    * the output is what a token-budget or fertility analysis consumes.
    * Same scale shape as c99 — the apply pass is one more row-local
    * projection + bounded aggregate over VOCAB rows; the corpus never
    * re-enters. Oracle = c99's unrolled chain plus the segmentation
    * aggregate; integer counts, hash-exact.
    */
  def c100BpeSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, seg) = bpeTrain(spark, sfDir)
    val syms = split(trim(col("s")), "  ")
    seg
      .select(explode(syms).as("symbol"), col("cnt"))
      .groupBy(col("symbol"))
      .agg(
        sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_vocab_occurrences")
      )
  }

  // --------------------------------------------------------------------
  // C109 — unigram-LM (SentencePiece-family) tokenizer trainer (Kudo
  // 2018, arXiv:1804.10959): the OTHER production tokenizer family
  // next to BPE (c99/c100). Seed a candidate piece inventory from
  // frequent substrings, then run fixed-round hard-EM: E-step =
  // Viterbi-segment the corpus-collapsed vocabulary under the current
  // piece probabilities (the max-product DP over pieces of length ≤
  // UniMaxPieceLen); M-step = re-estimate piece probabilities from
  // the Viterbi counts (Laplace-smoothed so single-char fallbacks
  // never die); prune = keep the top UniKeepPieces multi-char pieces
  // by count (Kudo's lowest-contribution prune, the deterministic
  // integer-count form). Hard (Viterbi) EM rather than full
  // forward-backward: the E-step marginalization is the one piece of
  // the published algorithm that resists cross-engine bit-exactness
  // (per-position float sums over all segmentations); the Viterbi
  // variant keeps every float op a product or a strict comparison in
  // a fixed order, which both engines replay bit-for-bit — and
  // hard-EM is itself a published, served variant of the trainer.
  //
  // Scale shape = c99's: the corpus is touched once (the same
  // map-side-combined word-frequency collapse), every EM round runs
  // over VOCAB rows with a row-local DP (aggregate() fold over ≤
  // UniMaxWordLen positions — no UDF, no explode of per-position
  // state), and the piece inventory is a ≤ (chars + UniKeepPieces)-row
  // driver-held artifact (c24's posture). Rounds are vocab-bound;
  // corpus size only enters through the one collapse.
  // --------------------------------------------------------------------

  /** Longest candidate piece (chars). 4 covers the corpus geometries'
    * word stems while keeping the seed inventory bounded.
    */
  val UniMaxPieceLen = 4

  /** Words longer than this are excluded from the TRAINER vocabulary
    * (the DP fold is unrolled to this many positions; SentencePiece
    * applies the same kind of max-length screen). Both corpus
    * geometries top out at 8 chars, so the screen is plan-only at
    * every gate SF.
    */
  val UniMaxWordLen = 16

  /** Multi-char candidate pieces seeded (top by raw substring count,
    * piece-lexicographic tiebreak) and kept per round.
    */
  val UniSeedCandidates = 48
  val UniKeepPieces = 32

  /** Hard-EM rounds. Two rounds exercise the full loop (probabilities
    * move, the prune fires, the second Viterbi re-segments under
    * moved probabilities) while the unrolled oracle chain stays
    * tractable — c99's BpeTrainRounds trade.
    */
  val UniEmRounds = 2

  /** Viterbi-segment `w` (≤ [[UniMaxWordLen]] chars) under the given
    * piece→probability map and return the piece array of the best
    * segmentation. Pure row-local column algebra: a forward fold over
    * the word's positions carrying the last [[UniMaxPieceLen]] DP
    * values and the backpointer list, then a bounded backtrack fold.
    * Max-product with STRICT-GREATER replacement scanning l = 1..4,
    * so ties break to the SMALLEST piece length — the oracle's CASE
    * chain replays the identical comparisons on identical doubles.
    */
  private def viterbiPieces(w: Column, probs: Map[String, Double]): Column = {
    val pmap = typedlit(probs)
    def p(piece: Column): Column = coalesce(element_at(pmap, piece), lit(0.0))
    // forward: state (v1 = v[i-1], v2 = v[i-2], v3 = v[i-3], v4 = v[i-4], bps)
    val fwd = aggregate(
      sequence(lit(1), length(w)),
      struct(
        lit(1.0).as("v1"), lit(0.0).as("v2"), lit(0.0).as("v3"), lit(0.0).as("v4"),
        array().cast("array<int>").as("bps")
      ),
      (st, i) => {
        val vs = Seq(st.getField("v1"), st.getField("v2"), st.getField("v3"), st.getField("v4"))
        val scores = (1 to UniMaxPieceLen).map { l =>
          when(i >= l, vs(l - 1) * p(w.substr(i - l + 1, lit(l)))).otherwise(lit(0.0))
        }
        val (best, bl) = (2 to UniMaxPieceLen).foldLeft((scores.head, lit(1))) {
          case ((b, bi), l) =>
            (when(scores(l - 1) > b, scores(l - 1)).otherwise(b), when(scores(l - 1) > b, lit(l)).otherwise(bi))
        }
        struct(
          best.as("v1"), st.getField("v1").as("v2"), st.getField("v2").as("v3"), st.getField("v3").as("v4"),
          concat(st.getField("bps"), array(bl)).as("bps")
        )
      }
    )
    // backtrack: ≤ UniMaxWordLen steps, each consumes ≥ 1 char
    aggregate(
      sequence(lit(1), lit(UniMaxWordLen)),
      struct(length(w).as("cur"), fwd.getField("bps").as("bps"), array().cast("array<string>").as("pieces")),
      (st, _) => {
        val cur = st.getField("cur")
        val l = element_at(st.getField("bps"), cur)
        struct(
          when(cur > 0, cur - l).otherwise(cur).as("cur"),
          st.getField("bps").as("bps"),
          when(cur > 0, concat(st.getField("pieces"), array(w.substr(cur - l + 1, l))))
            .otherwise(st.getField("pieces"))
            .as("pieces")
        )
      }
    ).getField("pieces")
  }

  /** One E-step: Viterbi counts (corpus-weighted) per piece over the
    * vocab frame (w, cnt).
    */
  private def viterbiCounts(vocab: DataFrame, probs: Map[String, Double]): Array[(String, Long)] =
    vocab
      .select(explode(viterbiPieces(col("w"), probs)).as("piece"), col("cnt"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))

  /** Laplace-smoothed probabilities over the kept inventory — every
    * kept piece (and every single char, the coverage fallback) stays
    * strictly positive. Exact integer inputs, one double division per
    * piece: both engines reproduce the doubles bit-for-bit.
    */
  private def uniProbs(counts: Seq[(String, Long)]): Map[String, Double] = {
    val t = counts.map(_._2).sum
    val v = counts.size
    counts.map { case (piece, c) => piece -> (c + 1).toDouble / (t + v).toDouble }.toMap
  }

  /** The trained inventory as (piece, n_tokens, prob) rows after
    * [[UniEmRounds]] hard-EM rounds, plus the vocab frame — shared by
    * the gate query and the spec.
    */
  /** The bounded seed plan over a (w, cnt) vocab frame: (single-char
    * frame, top-[[UniSeedCandidates]] multi-char frame), both as
    * (piece, n) with n = raw occurrence count. The multi-char prune
    * runs ENGINE-side — orderBy(n DESC, piece) + limit, which Spark
    * plans as TakeOrderedAndProject (per-partition top-K heaps, one
    * K-row merge on the driver) — so driver traffic is alphabet +
    * [[UniSeedCandidates]] rows no matter the corpus: the full
    * distinct-substring frame (|vocab| × ~64 pieces; billions of rows
    * on a 10⁸-token web vocabulary) never leaves the executors.
    * Split out so the spec can assert the bound on the plan itself.
    */
  private[graft] def uniSeedFrames(vocab: DataFrame): (DataFrame, DataFrame) = {
    val occ = vocab
      .select(
        explode(
          flatten(
            transform(
              sequence(lit(1), length(col("w"))),
              i =>
                filter(
                  transform(
                    sequence(lit(1), lit(UniMaxPieceLen)),
                    l => when(i + l - 1 <= length(col("w")), col("w").substr(i, l)).otherwise(lit(null))
                  ),
                  x => x.isNotNull
                )
            )
          )
        ).as("piece"),
        col("cnt")
      )
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("n"))
    val chars = occ.filter(length(col("piece")) === 1)
    val seeds = occ
      .filter(length(col("piece")) >= 2)
      .orderBy(col("n").desc, col("piece"))
      .limit(UniSeedCandidates)
    (chars, seeds)
  }

  private[graft] def unigramTrain(vocab0: DataFrame): (Seq[(String, Long, Double)], DataFrame) = {
    val vocab = vocab0.filter(length(col("w")) <= UniMaxWordLen).localCheckpoint()
    // seed counts: chars = every occurrence; multi-char = top
    // UniSeedCandidates substrings by (raw occurrence count, piece) —
    // pruned engine-side ([[uniSeedFrames]]), collected bounded; the
    // driver re-sorts with the same key so inventory order is
    // engine-independent
    val (charsDf, seedsDf) = uniSeedFrames(vocab)
    val chars = charsDf
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    val seeds = seedsDf
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (piece, n) => (-n, piece) }
    var inventory: Seq[(String, Long)] = (chars ++ seeds).toSeq
    (1 to UniEmRounds).foreach { _ =>
      val counted = viterbiCounts(vocab, uniProbs(inventory)).toMap
      val charRows = chars.map { case (piece, _) => piece -> counted.getOrElse(piece, 0L) }
      val multiRows = inventory
        .filter(_._1.length >= 2)
        .map { case (piece, _) => piece -> counted.getOrElse(piece, 0L) }
        .filter(_._2 > 0L)
        .sortBy { case (piece, n) => (-n, piece) }
        .take(UniKeepPieces)
      inventory = (charRows ++ multiRows).toSeq
    }
    val probs = uniProbs(inventory)
    (inventory.map { case (piece, n) => (piece, n, probs(piece)) }, vocab)
  }

  private val uniCache = new graft.core.AppScopedCache[(Seq[(String, Long, Double)], DataFrame)]

  /** Shared unigram trainer for c109/c111 — cached per (application,
    * sfDir), c99's posture: a trained tokenizer is a session artifact;
    * train and apply (and repeated bench passes) must train ONCE.
    */
  private def unigramTrained(spark: SparkSession, sfDir: String): (Seq[(String, Long, Double)], DataFrame) =
    uniCache.getOrElseUpdate(spark.sparkContext, sfDir) {
      val vocab = Tables
        .documents(spark, sfDir)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy(col("w"))
        .agg(count(lit(1)).as("cnt"))
      unigramTrain(vocab)
    }

  /** C109: the unigram-LM tokenizer TRAINER gate query — emits the
    * trained inventory (piece, n_tokens, prob) after the fixed-round
    * hard-EM above. The oracle unrolls the identical chain in SQL:
    * substring seeding, per-round Viterbi as a recursive CTE carrying
    * the same 4-value DP window and backpointer list, the same
    * strict-greater/smallest-l tie chain, Laplace probabilities, and
    * the count-ranked prune — integer counts everywhere, doubles only
    * in products and one division, so the gate is hash-exact through
    * TRAINING, like c99 and c107. Fertility comparison vs BPE
    * surfaces through c111's segment report on the same corpus.
    */
  def c109UnigramTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (inventory, _) = unigramTrained(spark, sfDir)
    inventory.toDF("piece", "n_tokens", "prob")
  }

  /** C111: APPLY the trained unigram tokenizer — Viterbi-segment the
    * vocabulary under the FINAL trained probabilities (one more
    * row-local DP pass, c100's apply-half posture) and emit the
    * per-word segmentation record: corpus count, char length, piece
    * count, and the md5 of the natural-order piece sequence (the
    * backtrack emits pieces end-to-start, so the fingerprint reverses
    * them — both engines do). This is the table a fertility or
    * packing analysis consumes: n_pieces/cnt-weighted sums against
    * c100's BPE segmentation of the same corpus is the
    * tokenizer-family comparison, served from one scan of VOCAB rows
    * (the corpus never re-enters). Oracle = c109's unrolled chain plus
    * one more recursive forward/backtrack round under p_final —
    * string/integer output, hash-exact.
    */
  def c111UnigramSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val (inventory, vocab) = unigramTrained(spark, sfDir)
    unigramSegmented(vocab, inventory)
  }

  /** The apply pass over any (w, cnt) vocab frame with a trained
    * inventory — split out so the spec can drive planted vocabularies
    * through the exact served path.
    */
  private[graft] def unigramSegmented(vocab: DataFrame, inventory: Seq[(String, Long, Double)]): DataFrame = {
    val probs = inventory.map { case (piece, _, p) => piece -> p }.toMap
    vocab
      .withColumn("pieces", viterbiPieces(col("w"), probs))
      .select(
        col("w"),
        col("cnt"),
        length(col("w")).cast("long").as("n_chars"),
        size(col("pieces")).cast("long").as("n_pieces"),
        md5(array_join(reverse(col("pieces")), " ")).as("pieces_md5")
      )
  }

  /** Merge-loop lineage bound: the segmentation frame gains one
    * `replace` projection per adopted merge, and with no checkpoint
    * each round re-derives every prior replace from the persisted
    * vocab — O(R²·vocab) work and an R-deep Catalyst plan (invisible
    * at the gate's R = 12, fatal at a production R = 32k: analysis
    * alone would dominate). Checkpointing every [[BpeCheckpointEvery]]
    * rounds caps lineage depth at the interval, making the loop
    * O(R·vocab) with a vocab-sized materialization per interval —
    * the c78 checkpoint posture. Measured (round 11, sf0.1, R = 100):
    * per-round wall time stays flat across the run — see BASELINE.md.
    */
  val BpeCheckpointEvery = 8

  private val bpeCache =
    new graft.core.AppScopedCache[(Seq[(Long, String, String, Long)], DataFrame)]

  /** Shared trainer core for c99/c100: runs the merge loop and returns
    * the adopted merges plus the final segmentation frame (cnt, s).
    * Cached per (application, sfDir) — a trained tokenizer is a
    * session artifact like c3's pair set or c24's centroids; c99 and
    * c100 (and repeated bench passes) must train ONCE, not per query.
    * The returned segmentation is localCheckpointed, so consumers
    * replay no lineage (the round-10 advisor found c100 silently
    * re-running the full corpus scan + 12 re-segmentations because
    * the final frame still carried the whole training lineage).
    */
  private def bpeTrain(spark: SparkSession, sfDir: String): (Seq[(Long, String, String, Long)], DataFrame) =
    bpeCache.getOrElseUpdate(spark.sparkContext, sfDir)(bpeTrainUncached(spark, sfDir, BpeTrainRounds))

  private[graft] def bpeTrainUncached(
      spark: SparkSession,
      sfDir: String,
      trainRounds: Int,
      roundTimes: scala.collection.mutable.ArrayBuffer[Double] = null
  ): (Seq[(Long, String, String, Long)], DataFrame) = {
    val vocab = Tables
      .documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    var seg = vocab.select(
      col("cnt"),
      concat(
        lit(" "),
        array_join(
          concat(
            transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1))),
            array(lit(BpeEndOfWord))
          ),
          "  "
        ),
        lit(" ")
      ).as("s")
    )
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= trainRounds && !exhausted) {
      val t0 = System.nanoTime()
      val syms = split(trim(col("s")), "  ")
      val top = seg
        .select(
          explode(
            when(
              size(syms) >= 2,
              transform(
                sequence(lit(1), size(syms) - 1),
                j => struct(element_at(syms, j).as("l"), element_at(syms, j + 1).as("r"))
              )
            ).otherwise(array().cast("array<struct<l:string,r:string>>"))
          ).as("p"),
          col("cnt")
        )
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round.toLong, l, r, n))
        seg = seg.withColumn("s", replace(col("s"), lit(s" $l  $r "), lit(s" $l$r ")))
        // bound the replace-chain lineage (see BpeCheckpointEvery)
        if (round % BpeCheckpointEvery == 0) seg = seg.localCheckpoint()
        if (roundTimes != null) roundTimes += (System.nanoTime() - t0) / 1e9
        round += 1
      }
    }
    // materialize the final segmentation BEFORE dropping the vocab it
    // lazily depends on: the cached artifact must replay zero lineage
    val out = seg.localCheckpoint()
    vocab.unpersist(false)
    (merges.toSeq, out)
  }

  /** c53: a 5-gram is boilerplate when at least this many DISTINCT docs
    * of the same source contain it (CCNet drops any line seen more than
    * once in a shard — threshold 2 is that rule at shingle granularity;
    * the synthetic corpus' max within-source df is 2, so both the hot
    * and the cold side are exercised at every SF).
    */
  val BoilerplateDfMin = 2
  val BoilerplateN = 5

  /** C53: per-source boilerplate coverage (CCNet/RefinedWeb shard-level
    * line dedup as a SIGNAL): a token position's 5-gram is boilerplate
    * iff that 5-gram occurs in ≥ [[BoilerplateDfMin]] distinct documents
    * of the SAME source — navigation chrome, license headers, template
    * text syndicated within a crawl domain. Per doc: total 5-gram
    * positions, boilerplate positions, fraction — the removal stage
    * filters or strips on this signal.
    *
    * Family position: c27 is intra-doc repetition, c47 is corpus-wide
    * span duplication (≥2 occurrences anywhere), c38/c43 are exact
    * chunk reuse; c53 is the per-SOURCE doc-frequency member — the only
    * one whose verdict is scoped by a grouping column, which is what
    * distinguishes boilerplate (every page of one site) from quotation
    * (two pages anywhere).
    *
    * Scale shape: positions travel as (source, long-hash) pairs — text
    * never rides a shuffle. The df aggregation is keyed on (source, h)
    * with map-side combine; the hot list (df ≥ threshold) is orders
    * smaller than the corpus (only boilerplate survives) and joins back
    * against the position stream on the same (source, h) key — Catalyst
    * broadcasts it when small, falls back to the keyed join when a
    * boilerplate-heavy corpus grows it. Docs with zero boilerplate stay
    * in the output via the left join (the score must exist to filter on).
    */
  def c53Boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        col("source"),
        md5Tokens(tokens(col("text")), 8).as("ht")
      )
      .select(col("doc_id"), col("source"), rollingShingleHashes(col("ht"), BoilerplateN).as("hs"))
      .localCheckpoint() // feeds the position explode AND the row-local totals
    val pos = docs
      .select(col("doc_id"), col("source"), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    val hot = pos
      .groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerplateDfMin)
      .select(col("source"), col("h"))
    val boiler = pos
      .join(hot, Seq("source", "h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_boiler"))
    // n_pos is a property of the ROW (array length) — no shuffle; the
    // only per-doc aggregation is over boilerplate HITS (∝ duplication,
    // not corpus), which then broadcasts back against the narrow scan
    docs
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_pos"))
      .join(boiler, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_pos"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        (coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_pos")).as("boiler_frac")
      )
  }

  /** c62: a doc is "short" under this token count — the byte/doc-count
    * skew cell every dataset card reports (short docs dominate counts
    * but not tokens).
    */
  val ShortDocTokens = 64

  /** C62: the DATASET CARD in one pass — every (source × lang) marginal
    * a corpus release documents (doc counts, token totals, char totals,
    * short-doc counts: the cell, both single-dim rollups, and the
    * corpus total) through the Dataset.groupingSets API (b40 covers the
    * SQL surface; this is the programmatic one a pipeline composes).
    * Why it's an operator and not four queries: ONE narrow scan + ONE
    * Expand + ONE aggregate exchange produce all four marginals —
    * running c49-style groupBys per marginal would scan the corpus four
    * times. Every statistic is integer-exact (counts and long sums — no
    * float accumulates across groups), GROUPING() markers distinguish
    * aggregated-away NULLs from data NULLs, token counting is row-local
    * BEFORE the Expand so text never rides an exchange (plan-asserted).
    */
  def c62DatasetCard(spark: SparkSession, sfDir: String): DataFrame =
    c62DatasetCardFrom(
      Tables
        .documents(spark, sfDir)
        .select(
          col("source"),
          col("lang"),
          size(tokens(col("text"))).cast("long").as("nt"),
          col("n_chars")
        )
    )

  /** The grouping-sets card over any (source, lang, nt, n_chars) frame
    * — split out so the spec can plant a DATA-null lang (absent from
    * the gate corpus) and prove the GROUPING() markers separate it
    * from the aggregated-away NULLs of the rollup rows.
    */
  def c62DatasetCardFrom(base: DataFrame): DataFrame = {
    base
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq(col("lang")), Seq()),
        col("source"),
        col("lang")
      )
      .agg(
        grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"),
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        count(when(col("nt") < ShortDocTokens, 1)).as("n_short_docs")
      )
  }

  /** C66: extended Gopher-style quality-signal battery (Rae et al. 2021
    * arXiv:2112.11446 §A1.1 repetition/quality rules; the per-word
    * signals c9's score does not cover): unique-word ratio, mean/max
    * word length, alphabetic / numeric / capitalized word counts, and
    * the composite rule flag a Gopher-style filter cuts on. Everything
    * is integer counts from ONE token split folded row-locally (the
    * word-length sum is an exact long fold — a float mean over words
    * would be addition-order-dependent; dividing two exact longs once
    * in double is engine-identical), so the whole battery is a
    * zero-shuffle projection: at 100 TB this is an embarrassingly
    * parallel scan, same posture as c9/c27.
    */
  def c66GopherSignals(spark: SparkSession, sfDir: String): DataFrame =
    c66GopherSignalsFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The battery over any (doc_id, text) frame — split out so the spec
    * can plant docs firing each rule branch (the gate corpus is clean).
    */
  def c66GopherSignalsFrom(docs: DataFrame): DataFrame =
    // round 15: the whole per-word battery is ONE codegen'd kernel pass
    // (gopher_token_stats) — the declarative form ran SIX interpreted
    // array passes per document (an aggregate fold, a transform +
    // array_max, three regex filter lambdas, an array_distinct), each
    // boxing every token. The kernel mirrors each spelling exactly
    // (byte-level ASCII classes ≡ the [A-Za-z]/[0-9]/[A-Z] regexes on
    // whitespace-split tokens; numChars ≡ length; null/empty edges
    // documented at the kernel).
    docs
      .withColumn("w", tokens(col("text")))
      .withColumn("gs", graft.plans.TextStatKernels.gopherStats(col("w")))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_unique_words", col("gs.n_unique"))
      .withColumn("sum_word_chars", col("gs.sum_chars"))
      .withColumn("max_word_len", col("gs.max_word_len"))
      .withColumn("n_alpha_words", col("gs.n_alpha"))
      .withColumn("n_numeric_words", col("gs.n_numeric"))
      .withColumn("n_cap_words", col("gs.n_cap"))
      .withColumn("mean_word_len", col("sum_word_chars").cast("double") / col("n_words"))
      .withColumn("unique_ratio", col("n_unique_words").cast("double") / col("n_words"))
      .withColumn(
        "gopher_flagged",
        col("n_words") < GopherMinWords ||
          col("mean_word_len") < GopherMinMeanWordLen ||
          col("mean_word_len") > GopherMaxMeanWordLen ||
          col("unique_ratio") < GopherMinUniqueRatio
      )
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_unique_words"),
        col("max_word_len"),
        col("n_alpha_words"),
        col("n_numeric_words"),
        col("n_cap_words"),
        col("mean_word_len"),
        col("unique_ratio"),
        col("gopher_flagged")
      )

  /** Gopher-rule thresholds (arXiv:2112.11446 §A1.1 adapted to the
    * single-line test corpus): documents shorter than 50 words, mean
    * word length outside [3, 10], or with fewer than half the words
    * unique get the flag. Comparisons on exactly-computed values —
    * the flag is a boolean, no float crosses the gate.
    */
  val GopherMinWords = 50L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMinUniqueRatio = 0.5

  /** C67: encoding-anomaly (mojibake) detection — the ingest-side
    * corruption screen a web corpus runs before any text signal is
    * trusted: U+FFFD replacement characters (a decoder already gave
    * up), control bytes, the `Ã·`-style UTF-8-read-as-Latin-1
    * signature, and the printable-ASCII share. All row-local string
    * ops (regexp counts + length arithmetic — exact integers; the one
    * ratio divides two exact longs in double), zero shuffle: the scan
    * IS the operator, c66's posture. The suspect flag is the
    * conjunction a curation mix would actually cut on.
    */
  def c67Mojibake(spark: SparkSession, sfDir: String): DataFrame =
    c67MojibakeFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The screen over any (doc_id, text) frame — split out so the spec
    * can plant corrupted docs (replacement chars, control bytes,
    * Latin-1 mojibake) the gate corpus lacks.
    */
  def c67MojibakeFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn(
        "n_ascii_printable",
        length(regexp_replace(col("text"), "[^ -~]", "")).cast("long")
      )
      .withColumn(
        "n_replacement",
        (length(col("text")) - length(regexp_replace(col("text"), "�", ""))).cast("long")
      )
      .withColumn("n_control", (length(col("text")) - length(regexp_replace(col("text"), "[\\x00-\\x1f]", ""))).cast("long"))
      .withColumn("n_mojibake", regexp_count(col("text"), lit("Ã.")).cast("long"))
      .withColumn(
        "ascii_ratio",
        when(col("n_chars") === 0, lit(1.0))
          .otherwise(col("n_ascii_printable").cast("double") / col("n_chars"))
      )
      .withColumn(
        "encoding_suspect",
        col("n_replacement") > 0 || col("n_control") > 0 || col("n_mojibake") > 0 ||
          col("ascii_ratio") < MojibakeMinAsciiRatio
      )
      .drop("text")

  /** Below this printable-ASCII share an (English-leaning) doc is more
    * binary/mis-decoded than text. Non-ASCII languages would tune this
    * per-lang; the flag composes ORs so a zero threshold disables it.
    */
  val MojibakeMinAsciiRatio = 0.6

  /** c75: below this top-minus-runner-up marker margin the language
    * call is a coin flip and the doc routes to a fallback classifier.
    */
  val LangidMarginMin = 2L

  /** C75: language-ID confidence margin — the routing signal next to
    * c8's argmax call: top marker score minus the runner-up (and a
    * low-confidence flag when the margin is under [[LangidMarginMin]]
    * or the top score is zero). A mix build sends low-margin docs to a
    * heavier classifier instead of trusting the cheap marker vote —
    * the standard cascade. Scores are integer marker counts off the
    * shared single token split; the runner-up comes from a row-local
    * descending sort of the 5-score array. Zero shuffle (c8's posture).
    */
  def c75LangidMargin(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = langPredicted(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    )
    val arr = sort_array(array(Markers.map { case (l, _) => col(s"s_$l") }: _*), asc = false)
    scored
      .withColumn("top_score", element_at(arr, 1))
      .withColumn("second_score", element_at(arr, 2))
      .withColumn("margin", col("top_score") - col("second_score"))
      .withColumn(
        "low_confidence",
        col("margin") < LangidMarginMin || col("top_score") === 0
      )
      .select(
        col("doc_id"),
        col("pred_lang"),
        col("top_score"),
        col("second_score"),
        col("margin"),
        col("low_confidence")
      )
  }

  /** c79 constants: feature-hash dimensionality and the integer weight
    * scale (weights live in [-QcScale, QcScale] / QcScale).
    */
  val QcDim = 512
  val QcScale = 1000

  /** The c79 per-bucket integer weights, precomputed driver-side
    * (round-14): a token's feature bucket is its md5-derived hash mod
    * [[QcDim]] (the hashing trick), and bucket b weighs
    * md5prefix8("qw#b") % (2·QcScale+1) − QcScale — a deterministic
    * stand-in for a trained coefficient vector that DuckDB re-derives
    * exactly, with the identical arithmetic
    * [[graft.plans.Md5PrefixLongExpr.prefixLong]] gives the engine.
    * Swapping in real learned weights is a different vector over the
    * same bucket column. 512 longs, computed once per JVM.
    */
  private lazy val qcWeightVector: Array[Long] =
    Array.tabulate(QcDim) { b =>
      graft.plans.Md5PrefixLongExpr.prefixLong(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"qw#$b"),
        8
      ) % (2 * QcScale + 1) - QcScale
    }

  /** C79: linear quality-classifier INFERENCE (the fastText-style
    * hashed bag-of-words scorer GPT-3/CCNet/LLaMA-class pipelines run
    * over every crawled document to keep "wiki-like" text): each token
    * hashes into one of [[QcDim]] feature buckets, the document score
    * is the mean bucket weight, admit = score > 0. The weight vector
    * here is md5-derived (deterministic, so the oracle re-derives it
    * bit-for-bit); a production model drops in by replacing the weight
    * expression with a broadcast coefficient array of the same shape.
    *
    * The entire scorer is ROW-LOCAL column math — tokenize, hash, fold
    * an exact BIGINT sum inside the array, one final double division —
    * so classification of a 100 TB corpus is a map-only scan: no
    * shuffle, no UDF, whole-stage codegen end to end, and the exact
    * integer sum makes the score independent of partitioning on any
    * cluster.
    */
  def c79LinearQuality(spark: SparkSession, sfDir: String): DataFrame =
    linearQualityScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("w_sum"), col("qc_score"), col("admit"))

  /** c79's scorer as a df→df transform over any frame with a `text`
    * column (adds n_tokens, w_sum, qc_score, admit): row-local column
    * math only, so it applies verbatim to a stream — another stateless
    * admission screen next to PII and the Gopher signals.
    */
  def linearQualityScored(docs: DataFrame): DataFrame = {
    val base = if (docs.columns.contains("w")) docs else docs.withColumn("w", tokens(col("text")))
    // round-14: the per-token hash→bucket→weight→sum fold runs in the
    // native BucketWeightSum kernel (one codegen'd loop over the token
    // array) instead of interpreted aggregate(transform(...)) lambdas;
    // [[qcWeightVector]] is the same md5 arithmetic densified, so w_sum
    // is bit-identical.
    base
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("w_sum", graft.plans.TokenKernels.bucketWeightSum(col("w"), qcWeightVector))
      .withColumn("qc_score", col("w_sum").cast("double") / (lit(QcScale.toDouble) * col("n_tokens")))
      .withColumn("admit", (col("qc_score") > 0.0).cast("int"))
  }

  /** c107 label threshold: docs with c9 quality_score ≥ this train as
    * positives (24.6% of the shipped corpus — non-degenerate at every
    * SF). The label source is deliberately the EXPENSIVE in-repo
    * signal (c9's battery): production trains its cheap fastText-style
    * filter to mimic labels it can't afford to compute on every doc —
    * wiki-vs-crawl, human ratings, an LLM judge — and c9 stands in as
    * the deterministic, oracle-reproducible version of that.
    */
  val QcLabelThreshold = 0.5

  /** C107 training: labeled (label, w=tokens) frame → the quantized
    * integer weight vector as a (bucket, w_q) frame. Closed-form
    * centroid/log-odds-free training — per-bucket label-conditioned
    * occurrence counts, then w_raw(b) = pos(b)·T_neg − neg(b)·T_pos
    * (the integer cross-product form of the rate difference
    * pos(b)/T_pos − neg(b)/T_neg, exact in BIGINT), quantized to
    * [−QcScale, QcScale] by sign·(|w|·QcScale DIV max|w|) — non-
    * negative operands only, so truncating and flooring division
    * agree and the rule is engine-identical. Scale: ONE map-side
    * combined token shuffle of (bucket, 2 counts) — ≤ QcDim×2
    * combiner rows per partition, c37's posture — then two ≤ 512-row
    * aggregates; nothing else touches the exchange. Quantization also
    * bounds the SERVED sum: |w_sum| ≤ QcScale·n_tokens regardless of
    * corpus size (raw counts would overflow BIGINT near 10^12
    * tokens). TRAINING bound, enforced loudly: the cross-product
    * weights are exact only while t_pos·t_neg fits in BIGINT (since
    * pos(b) ≤ t_pos and neg(b) ≤ t_neg, |w_raw| ≤ t_pos·t_neg) —
    * roughly 3×10⁹ token occurrences per side, ~6×10⁹ total. Past
    * that, non-ANSI Spark would WRAP silently and train wrong
    * weights, so the plan carries an assert_true on the 1-row totals
    * frame: a corpus over the bound fails the training job with this
    * message instead of serving a corrupted artifact (shard the
    * label sample or widen both engine and oracle to DECIMAL(38,0)
    * to go past it — a quality filter trains on a SAMPLE at 100 TB
    * anyway).
    */
  def trainedQualityWeightFrame(labeled: DataFrame): DataFrame = {
    val occ = labeled
      .select(col("label"), explode(col("w")).as("tok"))
      .select(col("label"), (hash32(col("tok")) % QcDim).as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("pos_cnt"),
        sum(when(col("label") === 1, 0L).otherwise(1L)).as("neg_cnt")
      )
    val totals = occ
      .agg(sum(col("pos_cnt")).as("t_pos"), sum(col("neg_cnt")).as("t_neg"))
      .select(
        col("t_pos"),
        col("t_neg"),
        assert_true(
          col("t_neg") === 0L || col("t_pos") <= lit(Long.MaxValue) / col("t_neg"),
          lit(
            "c107 training bound exceeded: t_pos*t_neg must fit in BIGINT " +
              "(~6e9 token occurrences) or the cross-product weights wrap silently; " +
              "train on a sample or widen engine+oracle to DECIMAL(38,0)"
          )
        ).as("_bound_ok")
      )
    val raw = occ
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        when(col("_bound_ok").isNull, col("pos_cnt") * col("t_neg") - col("neg_cnt") * col("t_pos")).as("w_raw")
      )
    val maxAbs = raw.agg(max(abs(col("w_raw"))).as("max_abs"))
    raw
      .crossJoin(broadcast(maxAbs))
      .select(
        col("bucket"),
        when(col("max_abs") === 0, lit(0L))
          .otherwise(signum(col("w_raw")).cast("long") * expr(s"(abs(w_raw) * $QcScale) DIV max_abs"))
          .as("w_q")
      )
  }

  /** c107 serving: score any (doc_id, text) frame against a trained
    * [[QcDim]]-long weight artifact — c79's exact row-local shape
    * (tokenize, hash, fold an exact BIGINT sum in-array, one double
    * division), with the md5 stand-in weights replaced by
    * element_at over the broadcast literal array. Map-only at any
    * corpus size; this IS the documented c79 swap-in contract,
    * exercised.
    */
  def trainedQualityScored(docs: DataFrame, weights: Array[Long]): DataFrame = {
    require(weights.length == QcDim, s"weight artifact must be $QcDim long, got ${weights.length}")
    val base = if (docs.columns.contains("w")) docs else docs.withColumn("w", tokens(col("text")))
    // round-14: native BucketWeightSum kernel (see linearQualityScored)
    // with the trained artifact as the weight vector — the interpreted
    // transform + element_at + aggregate chain is gone; same fold.
    base
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("w_sum", graft.plans.TokenKernels.bucketWeightSum(col("w"), weights))
      .withColumn("qc_score", col("w_sum").cast("double") / (lit(QcScale.toDouble) * col("n_tokens")))
      .withColumn("admit", (col("w_sum") > 0L).cast("int"))
  }

  /** C107: TRAINED linear quality classifier — closes the one gap the
    * r12 verdict named in the quality family (c79 is inference-only;
    * every production pipeline TRAINS its cheap filter). Train on the
    * corpus with c9's battery as the label source
    * ([[QcLabelThreshold]]), hold the ≤ [[QcDim]]-int quantized weight
    * artifact on the driver (c24/c99's bounded-artifact posture — 512
    * longs, not corpus-sized), then serve row-locally over the same
    * corpus. Gate output: per-doc (n_tokens, w_sum, qc_score, admit);
    * the oracle unrolls the identical count → cross-product → quantize
    * → score chain in SQL, so the gate is hash-exact end to end —
    * training included. TrainedQualitySpec plants a vocabulary-split
    * quality signal and shows the trained weights separate it
    * perfectly where c79's md5 weights score at chance.
    */
  /** The c107 training pass as a driver-held artifact builder — c9
    * labels at the threshold over the corpus, counts → cross-product →
    * quantize, densified to the [[QcDim]]-long vector the scorer
    * broadcasts. Shared by the gate query and the streaming screen
    * (train in batch, serve the stream — exactly how a production
    * quality filter deploys).
    */
  /** round-14: the trained weight vector is cached per (app, sfDir) —
    * the c24/c106/c99 trained-artifact posture (train once, serve
    * many): a production quality filter trains its 512-long artifact
    * in one job and every downstream serve (batch re-scores, the
    * streaming screen) loads it; re-running the label battery + count
    * shuffle on every invocation measured ~0.9 s of the c107 median.
    * Deterministic per (app, sfDir), so every consumer sees the
    * identical artifact; Bench's amortized list carries c107.
    */
  private val qcWeightsCache = new graft.core.AppScopedCache[Array[Long]]

  def trainedQualityWeightsFor(spark: SparkSession, sfDir: String): Array[Long] =
    qcWeightsCache.getOrElseUpdate(spark.sparkContext, s"$sfDir|c107weights") {
      val labeled = qualityScored(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
        .withColumn("label", (col("quality_score") >= QcLabelThreshold).cast("int"))
        .select(col("label"), col("w"))
      val wq = trainedQualityWeightFrame(labeled)
        .collect()
        .map(r => r.getLong(0).toInt -> r.getLong(1))
        .toMap
      Array.tabulate(QcDim)(b => wq.getOrElse(b, 0L))
    }

  def c107TrainedQuality(spark: SparkSession, sfDir: String): DataFrame =
    trainedQualityScored(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      trainedQualityWeightsFor(spark, sfDir)
    ).select(col("doc_id"), col("n_tokens"), col("w_sum"), col("qc_score"), col("admit"))

  /** C84: language-ID CONFUSION MATRIX — the classifier-eval report
    * for c8's marker heuristic against the labeled corpus: one row per
    * (labeled lang, predicted lang) with the doc count; the diagonal
    * is per-language recall, off-diagonal cells name exactly which
    * languages bleed into which — the routing-quality table a cascade
    * owner reads next to c75's confidence margins before trusting the
    * cheap classifier at 100 TB (where the expensive one only sees
    * low-margin traffic). One scan, row-local scoring, a ≤ #langs²-row
    * map-side-combined aggregate.
    */
  def c84LangConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langPredicted(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** C81: tokenizer FERTILITY report — per language: documents, words
    * (whitespace tokens), subword tokens (c10's BPE-ish segmentation)
    * and characters, with fertility = subtokens/word and
    * chars-per-subtoken. Fertility is the standard multilingual
    * tokenizer-equity metric (how many subwords a word costs — e.g.
    * Rust et al. 2021, arXiv:2012.15613): a language with 2× fertility
    * pays 2× the context budget for the same content, so mix designers
    * read this table next to c62's marginals before setting c36's
    * temperatures. All counts are exact integer sums (map-side
    * combined, ≤ #langs result rows); the two ratios are one double
    * division each — engine-identical.
    */
  def c81TokenFertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("lang"),
        size(tokens(col("text"))).cast("long").as("nw"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]")).cast("long").as("nb"),
        length(col("text")).cast("long").as("nc")
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        sum(col("nb")).as("total_subtokens"),
        sum(col("nc")).as("total_chars")
      )
      .withColumn("fertility", col("total_subtokens").cast("double") / col("total_words"))
      .withColumn("chars_per_subtoken", col("total_chars").cast("double") / col("total_subtokens"))

  /** c91 constants: classic BM25 k1/b, the fixed query battery (c57's
    * two RAG texts plus two lexical ones — dense and sparse retrieval
    * share a query surface), and the served depth.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10
  val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark join query",
    1L -> "vector similarity search",
    2L -> "stream window agg",
    3L -> "slow scan filter table"
  )

  /** C91: BM25 lexical retrieval — the sparse sibling of c57's dense
    * RAG pass (Robertson & Zaragoza 2009, the Okapi scoring every
    * hybrid-retrieval training pipeline runs next to its embedding
    * index). Scored with the RATIONAL idf variant — idf_r(t) =
    * (N − df + 0.5)/(df + 0.5), the argument of classic BM25's log —
    * because libm `ln` is not guaranteed bit-identical across engines
    * while +,·,/ are correctly rounded everywhere. Honest contract: this
    * is a rational-idf BM25 VARIANT chosen for cross-engine float
    * exactness (oracle-consistent by construction). It ranks identically
    * to classic log-idf BM25 only for single-term queries — the score is
    * a SUM over query terms, and a sum of per-term monotone transforms
    * is not a monotone transform of the sum, so multi-term rankings can
    * diverge from classic BM25.
    *
    * Scale: pass 1 collapses the corpus to ONE bounded aggregate row
    * (N, Σdl, one df counter per distinct query term — map-side
    * combinable, driver traffic = a few longs, the c37 bounded-artifact
    * posture); idf/avgdl inline as plan literals, so pass 2 scores
    * every document ROW-LOCALLY (tf = a filter over the token array —
    * no explode, no join, no corpus shuffle) and only the ≤ k×|queries|
    * heap survivors reach the exchange via the native
    * [[graft.plans.TopKPerKey]]. Σ over query terms folds in fixed
    * term order with explicit association; the oracle mirrors the
    * identical parse tree.
    */
  def c91Bm25(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
    val terms = Bm25Queries.flatMap(_._2.split(" ")).distinct
    val termIdx = terms.zipWithIndex.toMap
    // round-14: every term frequency comes from ONE native array pass
    // ([[graft.plans.TermCountsExpr]]) staged as its own column — the
    // old spelling ran one interpreted (CodegenFallback) ArrayFilter
    // per (row × query-term) in pass 2 and one array_contains per
    // (row × term) in pass 1. Counts are the identical integers, so
    // df/tf and every downstream double are bit-unchanged.
    val withTc = docs.withColumn("tc", graft.plans.TermCountsExpr.termCounts(col("w"), terms))
    // pass 1: the whole statistics artifact in one aggregate row
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(element_at(col("tc"), i + 1) > 0, 1)).as(s"df_$t")
    }
    val statsRow = withTc
      .agg(count(lit(1)).as("n"), (sum(col("dl")).as("sumdl") +: dfCols): _*)
      .head()
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs
    val idf = terms.zipWithIndex.map { case (t, i) =>
      val df = statsRow.getLong(2 + i)
      t -> ((nDocs - df + 0.5) / (df + 0.5))
    }.toMap
    // pass 2: row-local scoring; norm shared per row, one score column
    // per query folded left-to-right in fixed term order
    val norm = lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * (col("dl").cast("double") / lit(avgdl)))
    def qScore(text: String): Column =
      text
        .split(" ")
        .toSeq
        .map { t =>
          val tf = element_at(col("tc"), termIdx(t) + 1).cast("double")
          lit(idf(t)) * ((tf * lit(Bm25K1 + 1.0)) / (tf + norm))
        }
        .reduceLeft(_ + _)
    val perQuery = Bm25Queries.map { case (qid, text) =>
      struct(lit(qid).as("query_id"), qScore(text).as("score"))
    }
    val scored = withTc
      .select(col("doc_id"), explode(array(perQuery: _*)).as("qs"))
      .select(col("qs.query_id"), col("doc_id"), col("qs.score"))
      .filter(col("score") > 0.0)
    val top = graft.plans.TopKPerKey.topKPerKey(
      scored,
      keyCols = Seq("query_id"),
      orderBy = Seq(("score", false), ("doc_id", true)),
      k = Bm25TopK
    )
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }
}
