package graft

import graft.operators.VectorOps

/** Quality gates for the LSH scale paths — the properties that let
  * c17/c7 stand in for their exact baselines (c5/c6) at 100 TB:
  * c17's candidate generation must lose NO pair the exact all-pairs
  * definition finds (deterministic planes make this checkable exactly,
  * not sampled), and c7's top-5 must keep a measured recall floor
  * against the brute-force ranking.
  */
class VectorRecallSpec extends SparkSpec {

  // checked at sf0.01 AND sf0.1 — the larger SF has 10× the vectors and
  // ~100× the threshold pairs, so a band-geometry recall problem that
  // small data hides would surface here
  for (sf <- Seq(sf001, "/root/testdata/sf0.1")) {
    test(s"c17 LSH pair set is EXACTLY the c5 all-pairs result (zero bucket misses, $sf)") {
      val exact = VectorOps
        .c5EmbeddingDedup(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val lsh = VectorOps
        .c17EmbeddingDedupLsh(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(exact.nonEmpty, "baseline found no near-dup pairs — test data changed?")
      assert(lsh.keySet == exact.keySet,
        s"missed=${(exact.keySet -- lsh.keySet).toSeq.sorted.take(5)} " +
          s"extra=${(lsh.keySet -- exact.keySet).toSeq.sorted.take(5)}")
      // exact-cosine verify stage must produce bit-identical scores
      exact.foreach { case (k, cos) => assert(lsh(k) == cos, s"cos mismatch at $k") }
    }
  }

  // --- c35 SemDeDup ---------------------------------------------------

  /** Normalized corpus vectors, driver-side (500 × 64 doubles at
    * sf0.01) — the independent mirror the SemDeDup specs score against.
    */
  private def normalizedVecs(sf: String): Map[Long, Array[Double]] =
    graft.sources.Tables
      .embeddings(spark, sf)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        r.getLong(0) -> v.map(_ / n)
      }
      .toMap

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("c35 SemDeDup verdict: full corpus coverage, keep-min invariant, real removals") {
    val rows = VectorOps.c35SemDedup(spark, sf001).collect()
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    assert(rows.length == n, "one verdict row per corpus vector")
    assert(rows.map(_.getLong(0)).distinct.length == n)
    val removed = rows.filterNot(_.getBoolean(2))
    assert(removed.nonEmpty, "threshold found no semantic dups — test data changed?")
    assert(removed.length < n / 2, "SemDeDup must prune, not erase the corpus")
    // keep-min-id: the smallest id of each cluster has no lower witness
    rows.groupBy(_.getLong(1)).foreach { case (list, members) =>
      val minId = members.map(_.getLong(0)).min
      val minRow = members.find(_.getLong(0) == minId).get
      assert(minRow.getBoolean(2), s"cluster $list removed its own minimum id $minId")
    }
  }

  test("c35 trained SemDeDup: deterministic, and co-clusters the exact pair graph at a recall floor") {
    def verdict() = VectorOps
      .c35SemDedupTrained(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val v1 = verdict()
    assert(v1.toSeq == verdict().toSeq, "hash-sampled Lloyd training must be run-deterministic")
    val vecs = normalizedVecs(sf001)
    val ids = vecs.keys.toArray.sorted
    val exactPairs = for {
      i <- ids; j <- ids if i < j
      if dot(vecs(i), vecs(j)) >= VectorOps.SemDedupThreshold
    } yield (i, j)
    assert(exactPairs.nonEmpty)
    val listOf = v1.map(t => t._1 -> t._2).toMap
    val co = exactPairs.count { case (i, j) => listOf(i) == listOf(j) }
    val recall = co.toDouble / exactPairs.length
    // fewer, larger trained clusters must catch a solid share of the
    // exact pair graph on ISOTROPIC vectors (clustered real embeddings
    // sit far higher — this is the conservative floor)
    assert(recall >= 0.30, f"co-cluster recall $recall%.3f < 0.30 over ${exactPairs.length} pairs")
    // and every removal still carries an in-cluster lower-id witness
    val byList = v1.groupBy(_._2)
    v1.filterNot(_._3).foreach { case (id, list, _) =>
      val witness = byList(list).exists(m => m._1 < id && dot(vecs(m._1), vecs(id)) >= VectorOps.SemDedupThreshold)
      assert(witness, s"removed $id has no intra-cluster witness")
    }
  }

  test("c39 outlier verdict: full coverage, seeds never flagged, flag matches the floor") {
    val rows = VectorOps.c39EmbeddingOutliers(spark, sf001).collect()
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    assert(rows.length == n, "one verdict row per vector")
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getDouble(2) < VectorOps.OutlierCosFloor))
    }
    // centroid seeds assign to themselves at cos ~1 (self dot of the
    // normalized vector — a few ULPs shy of exactly 1.0) — never outliers
    rows.filter(_.getLong(0) < VectorOps.SemLists).foreach { r =>
      assert(r.getDouble(2) > 0.999999 && !r.getBoolean(3), s"seed ${r.getLong(0)} flagged")
    }
    val flagged = rows.count(_.getBoolean(3))
    assert(flagged > 0, "floor flags nothing — distribution changed?")
    assert(flagged < n / 4, s"floor flags $flagged of $n — too aggressive")
  }

  test("c18 IVF ANN recall@5 >= 0.9 vs the exact c6 baseline at default nprobe") {
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ivfTop5 = VectorOps
      .c18AnnIvf(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exactTop5 & ivfTop5).size.toDouble / exactTop5.size
    assert(recall >= 0.9, f"recall@5 = $recall%.3f < 0.9")
  }

  test("c87 JL-sketch ANN: isotropic tripwire floor; recall@5 >= 0.9 on clustered embeddings") {
    // the gate corpus is ISOTROPIC — the adversarial case for a fixed
    // 16-dim sketch (all cosines bunch; 2/k distortion swamps the
    // ranking gap), so this leg is a measured-floor tripwire like
    // c35's, not the serving claim (measured 0.36 at freeze)
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val jlTop5 = VectorOps
      .c87AnnJl(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val isoRecall = (exactTop5 & jlTop5).size.toDouble / exactTop5.size
    assert(isoRecall >= 0.30, f"isotropic recall@5 = $isoRecall%.3f fell below the 0.30 tripwire")

    // the serving claim: on data WITH neighborhood structure (what a
    // real embedding corpus has), the 16-dim sketch separates clusters
    // and the 50-deep shortlist recovers the exact top-5. Cluster size
    // (30) < shortlist (50) is the operating contract: the sketch's
    // job is finding the NEIGHBORHOOD, the exact re-rank's job is
    // ordering within it — a shortlist smaller than the neighborhood
    // would push fine-ranking onto the sketch, which no fixed-width
    // projection can do among near-ties
    import spark.implicits._
    val (nClusters, perCluster, dim) = (20, 30, 64)
    val members = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val center = hashUnit(s"center_$c", dim)
      val noise = hashUnit(s"noise_${c}_$i", dim)
      val v = center.zip(noise).map { case (a, b) => a + 0.35 * b }
      val n = math.sqrt(v.map(x => x * x).sum)
      (10L + c.toLong * perCluster + i, v.map(_ / n).toSeq)
    }
    // queries 0..9 are fresh members of the even clusters — ids < 10,
    // exactly the split c87's pipeline cuts on
    val queries = (0 until 10).map { q =>
      val center = hashUnit(s"center_${2 * q}", dim)
      val noise = hashUnit(s"qnoise_$q", dim)
      val v = center.zip(noise).map { case (a, b) => a + 0.35 * b }
      val n = math.sqrt(v.map(x => x * x).sum)
      (q.toLong, v.map(_ / n).toSeq)
    }
    val all = (queries ++ members).toDF("vec_id", "vn").repartition(8).cache()
    val exact = VectorOps
      .annBruteforce(
        all.filter($"vec_id" >= 10).select($"vec_id".as("neighbor_id"), $"vn"),
        all.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"vn".as("qv")),
        5
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val jl = VectorOps
      .c87AnnJlFrom(all)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    all.unpersist()
    assert(exact.size == 50)
    val recall = (exact & jl).size.toDouble / exact.size
    assert(recall >= 0.9, f"clustered JL recall@5 = $recall%.3f < 0.9")
  }

  // --- trained IVF: the quantizer must PRUNE (nprobe = k/5), which is
  // only provable on data with cluster structure — the sf tables are
  // isotropic by construction, so the corpus here is synthetic: 20
  // well-separated clusters on the unit sphere, deterministic via MD5.

  private def hashUnit(seed: String, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = Array.tabulate(dim) { d =>
      val h = md.digest(s"${seed}_$d".getBytes("UTF-8"))
      (h(0).toDouble + 0.5) / 128.0
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  test("trained IVF: recall@5 >= 0.9 at nprobe = k/5 on clustered embeddings") {
    import spark.implicits._
    val (nClusters, perCluster, dim) = (20, 200, 64)
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val center = hashUnit(s"center_$c", dim)
      val noise = hashUnit(s"noise_${c}_$i", dim)
      val v = center.zip(noise).map { case (a, b) => a + 0.35 * b }
      val n = math.sqrt(v.map(x => x * x).sum)
      (c.toLong * perCluster + i, v.map(_ / n).toSeq)
    }
    val all = rows.toDF("vec_id", "vn").repartition(8).cache()
    // one query per even-numbered cluster: member 0 of clusters 0,2,4,…
    val queryIds = (0 until 10).map(q => (2L * q) * perCluster).toSet
    val queries = all
      .filter($"vec_id".isInCollection(queryIds))
      .select($"vec_id".as("query_id"), $"vn".as("qv"))
    val cands = all
      .filter(!$"vec_id".isInCollection(queryIds))
      .select($"vec_id".as("neighbor_id"), $"vn")

    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val k = nClusters
    val cents = VectorOps.trainCentroids(cands, k, iters = 8)
    val nprobe = k / 5
    val ivfTop5 = VectorOps
      .ivfAnnTrained(cands, queries, cents, nprobe, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    all.unpersist()
    assert(exactTop5.size == 50)
    val recall = (exactTop5 & ivfTop5).size.toDouble / exactTop5.size
    assert(recall >= 0.9,
      f"trained-IVF recall@5 = $recall%.3f < 0.9 at nprobe=$nprobe of $k lists — quantizer not pruning correctly")
  }

  // --- build/serve split: production trains an IVF index once and
  // serves many sessions; the persisted index must reproduce the
  // training session's answers exactly (doubles round-trip parquet
  // bit-for-bit, and the probe path is a pure function of centroids).

  private def clusteredFrames(spark: org.apache.spark.sql.SparkSession, nClusters: Int, perCluster: Int) = {
    import spark.implicits._
    val dim = 64
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val center = hashUnit(s"center_$c", dim)
      val noise = hashUnit(s"noise_${c}_$i", dim)
      val v = center.zip(noise).map { case (a, b) => a + 0.35 * b }
      val n = math.sqrt(v.map(x => x * x).sum)
      (c.toLong * perCluster + i, v.map(_ / n).toSeq)
    }
    val all = rows.toDF("vec_id", "vn")
    val queryIds = (0 until 5).map(q => q.toLong * 2 * perCluster).toSet
    (
      all.filter(!$"vec_id".isInCollection(queryIds)).select($"vec_id".as("neighbor_id"), $"vn"),
      all.filter($"vec_id".isInCollection(queryIds)).select($"vec_id".as("query_id"), $"vn".as("qv"))
    )
  }

  test("IVF build/serve split: the persisted index serves identical top-k in a fresh session") {
    val (nClusters, perCluster) = (8, 50)
    val (cands, queries) = clusteredFrames(spark, nClusters, perCluster)
    val cents = VectorOps.trainCentroids(cands, nClusters, iters = 4)
    val trained = VectorOps
      .ivfAnnTrained(cands, queries, cents, nprobe = 2, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    VectorOps.saveIvfIndex(spark, dir, cents)

    // a FRESH session (isolated SQL state — the serving-process model):
    // load the index and serve the same probe path with zero training
    val serve = spark.newSession()
    val loaded = VectorOps.loadIvfIndex(serve, dir)
    assert(loaded.length == cents.length)
    loaded.zip(cents).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroids did not round-trip parquet bit-for-bit")
    }
    val (cands2, queries2) = clusteredFrames(serve, nClusters, perCluster)
    val served = VectorOps
      .ivfAnnTrained(cands2, queries2, loaded, nprobe = 2, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(served == trained,
      s"served top-k diverged from the training session: missing=${(trained -- served).take(3)} extra=${(served -- trained).take(3)}")
  }

  test("IMI build/serve split: the persisted half-codebooks serve identical Multi-D-ADC top-k in a fresh session") {
    import org.apache.spark.sql.functions.{col, slice, xxhash64}
    val (cands, queries) = clusteredFrames(spark, nClusters = 8, perCluster = 50)
    val hk = VectorOps.ImiHalfKFloor
    val half = 32
    val centsA = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), 1, half).as("vn")), hk, VectorOps.C106Iters)
    val centsB = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), half + 1, half).as("vn")), hk, VectorOps.C106Iters)
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val rcb = VectorOps.residualCodebooksImiOf(seeds, centsA, centsB)
    val nProbes = math.max(VectorOps.ImiCellProbes, 4 * hk)
    val trained = VectorOps
      .annImiAdc(cands, queries, centsA, centsB, rcb, nProbes, reRank = 250, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_imi_idx").toString
    VectorOps.saveImiIndex(spark, dir, centsA, centsB)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_imi_pq").toString
    VectorOps.savePqIndex(spark, pqDir, rcb)
    val serve = spark.newSession()
    val (la, lb) = VectorOps.loadImiIndex(serve, dir)
    la.zip(centsA).foreach { case (a, b) => assert(a.sameElements(b), "half A did not round-trip bit-for-bit") }
    lb.zip(centsB).foreach { case (a, b) => assert(a.sameElements(b), "half B did not round-trip bit-for-bit") }
    val lcb = VectorOps.loadPqIndex(serve, pqDir)
    val (cands2, queries2) = clusteredFrames(serve, nClusters = 8, perCluster = 50)
    val served = VectorOps
      .annImiAdc(cands2, queries2, la, lb, lcb, nProbes, reRank = 250, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(served == trained,
      s"served Multi-D-ADC diverged: missing=${(trained -- served).take(3)} extra=${(served -- trained).take(3)}")
  }

  test("PQ-ADC: recall@5 >= 0.9 on clustered embeddings (shortlist must contain the true top-5)") {
    import org.apache.spark.sql.functions.col
    val (cands, queries) = clusteredFrames(spark, nClusters = 20, perCluster = 200)
    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // corpus-drawn seed codebooks, hash-spread across the corpus (the
    // trainingSample idiom) so every cluster is represented. With
    // Ks=16 codewords against 20 tight clusters, all members of a
    // cluster collapse onto the same code vector, so ADC ties within a
    // cluster and the shortlist must cover the TIE CLASS (≥ cluster
    // size) for the exact re-rank to recover the true top-5 — the
    // seeded-codebook analogue of why real PQ deployments size reRank
    // against quantization coarseness (or train finer codebooks).
    import org.apache.spark.sql.functions.xxhash64
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val reRank = 250 // > perCluster: covers a fully-tied cluster
    val pqTop5 = VectorOps
      .annPq(cands, queries, VectorOps.pqCodebooksOf(seeds), reRank, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exactTop5 & pqTop5).size.toDouble / exactTop5.size
    assert(recall >= 0.9, f"PQ recall@5 = $recall%.3f < 0.9 — ADC shortlist dropping true neighbors")
  }

  test("IVF-PQ composition: recall@5 >= 0.9 on clustered embeddings at nprobe = k/5") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val (cands, queries) = clusteredFrames(spark, nClusters = 20, perCluster = 200)
    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val k = 20
    val cents = VectorOps.trainCentroids(cands, k, iters = 8)
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // nprobe = k/5 (the index must PRUNE); reRank covers the ADC tie
    // class within a probed cluster, as in the PQ-only leg above
    val ivfpqTop5 = VectorOps
      .annIvfPq(cands, queries, cents, VectorOps.pqCodebooksOf(seeds), nprobe = k / 5, reRank = 250, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exactTop5 & ivfpqTop5).size.toDouble / exactTop5.size
    assert(recall >= 0.9, f"IVF-PQ recall@5 = $recall%.3f < 0.9 at nprobe=${k / 5} of $k lists")
  }

  test("IVFADC: recall@5 >= 0.9 on clustered embeddings, and residual codes beat raw codes at small reRank") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val (cands, queries) = clusteredFrames(spark, nClusters = 20, perCluster = 200)
    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val k = 20
    val cents = VectorOps.trainCentroids(cands, k, iters = 8)
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactTop5 & got).size.toDouble / exactTop5.size
    }
    // Jégou et al. 2011's core claim, reproduced: with 16 codewords
    // against 20 tight clusters, RAW-vector PQ collapses a cluster's
    // members onto one code (ADC ties across ~200 rows — only a
    // reRank > cluster size recovers the true top-5; see the IVF-PQ
    // leg above), while RESIDUAL codes represent the within-cluster
    // offsets the coarse quantizer removed. Measured at reRank=50:
    // residual 0.52 vs raw 0.24 (codes carry within-cluster signal raw
    // PQ cannot); at reRank=250 (≥ cluster size) the centroid term
    // alone surfaces the home cluster and the exact re-rank recovers
    // 1.000. Deterministic fixture — these cannot flake.
    val rcb = VectorOps.residualCodebooksOf(seeds, cents)
    val adcSmall = recall(
      VectorOps.annIvfAdc(cands, queries, cents, rcb, nprobe = k / 5, reRank = VectorOps.PqReRank, topK = 5)
    )
    val rawSmall = recall(
      VectorOps
        .annIvfPq(cands, queries, cents, VectorOps.pqCodebooksOf(seeds), nprobe = k / 5, reRank = VectorOps.PqReRank, topK = 5)
    )
    val adcBig = recall(
      VectorOps.annIvfAdc(cands, queries, cents, rcb, nprobe = k / 5, reRank = 250, topK = 5)
    )
    info(f"reRank=${VectorOps.PqReRank}: residual=$adcSmall%.3f raw=$rawSmall%.3f; reRank=250: residual=$adcBig%.3f")
    assert(adcBig >= 0.9,
      f"IVFADC recall@5 = $adcBig%.3f < 0.9 at nprobe=${k / 5}, reRank=250 — centroid term not surfacing the home cluster")
    assert(adcSmall > rawSmall,
      f"residual codes ($adcSmall%.3f) must beat raw codes ($rawSmall%.3f) at reRank=${VectorOps.PqReRank} on clustered data — the Jégou residual claim")
    assert(adcSmall >= 0.45, f"IVFADC recall@5 = $adcSmall%.3f < 0.45 at reRank=${VectorOps.PqReRank} (measured 0.52)")
  }

  test("c106 trained IMI: recall@5 >= 0.9 on clustered embeddings at the c101 probe budget; trained cells beat seeded") {
    import org.apache.spark.sql.functions.{col, slice, xxhash64}
    val (cands, queries) = clusteredFrames(spark, nClusters = 20, perCluster = 200)
    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val hk = VectorOps.ImiHalfKFloor
    val nProbes = math.max(VectorOps.ImiCellProbes, 4 * hk)
    val half = 32
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactTop5 & got).size.toDouble / exactTop5.size
    }
    val centsA = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), 1, half).as("vn")), hk, VectorOps.C106Iters)
    val centsB = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), half + 1, half).as("vn")), hk, VectorOps.C106Iters)
    val trained = recall(VectorOps.imiSearchTrained(cands, queries, centsA, centsB, nProbes, 5))
    // the seeded baseline: c101's posture — 2·hk hash-spread corpus
    // draws, halves sliced out — at the SAME probe budget
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(2 * hk)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val seededA = seeds.take(hk).map(_.take(half))
    val seededB = seeds.drop(hk).map(_.drop(half))
    assert(trained >= 0.9, f"trained IMI recall@5 = $trained%.3f < 0.9 at P=$nProbes")
    // where training actually pays: at the served budget both codebook
    // families saturate (P=32 of 64 cells covers everything on 20
    // clusters); the pruning regime separates them. Measured sweep:
    // P=1 trained 1.000 vs seeded 0.720; P=2 1.000 vs 0.840 — Lloyd
    // cells align with the clusters, so even the single best cell
    // already contains the query's home cluster.
    val trained1 = recall(VectorOps.imiSearchTrained(cands, queries, centsA, centsB, 1, 5))
    val seeded1 = recall(VectorOps.imiSearchTrained(cands, queries, seededA, seededB, 1, 5))
    info(f"P=$nProbes trained=$trained%.3f; P=1 trained=$trained1%.3f seeded=$seeded1%.3f")
    assert(trained1 >= 0.9, f"trained IMI recall@5 = $trained1%.3f < 0.9 at P=1 — cells not cluster-aligned")
    assert(trained1 > seeded1, f"trained cells ($trained1%.3f) must beat seeded ($seeded1%.3f) in the pruning regime")
  }

  test("c108 IMI-ADC: recall@5 >= 0.9 on clustered embeddings at the c104 re-rank budget") {
    import org.apache.spark.sql.functions.{col, slice, xxhash64}
    val (cands, queries) = clusteredFrames(spark, nClusters = 20, perCluster = 200)
    val exactTop5 = VectorOps
      .annBruteforce(cands, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val hk = VectorOps.ImiHalfKFloor
    val nProbes = math.max(VectorOps.ImiCellProbes, 4 * hk)
    val half = 32
    val centsA = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), 1, half).as("vn")), hk, VectorOps.C106Iters)
    val centsB = VectorOps.trainCentroids(
      cands.select(col("neighbor_id"), slice(col("vn"), half + 1, half).as("vn")), hk, VectorOps.C106Iters)
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val rcb = VectorOps.residualCodebooksImiOf(seeds, centsA, centsB)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactTop5 & got).size.toDouble / exactTop5.size
    }
    // the c104 clustered contract carried over to cells: at reRank ≥
    // cluster size the cell-centroid term alone surfaces the home
    // cluster and the exact re-rank recovers the true top-5
    val big = recall(VectorOps.annImiAdc(cands, queries, centsA, centsB, rcb, nProbes, reRank = 250, topK = 5))
    val small = recall(
      VectorOps.annImiAdc(cands, queries, centsA, centsB, rcb, nProbes, reRank = VectorOps.PqReRank, topK = 5)
    )
    info(f"IMI-ADC clustered: reRank=250 $big%.3f; reRank=${VectorOps.PqReRank} $small%.3f at P=$nProbes")
    assert(big >= 0.9, f"IMI-ADC recall@5 = $big%.3f < 0.9 at reRank=250 — c104's clustered floor must carry to cells")
  }

  test("c106 trained IMI recall@5 vs the exact c6 baseline (served floor)") {
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = VectorOps
      .c106AnnImiTrained(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exactTop5 & got).size.toDouble / exactTop5.size
    info(f"trained IMI gate recall@5 = $recall%.3f")
    assert(recall >= 0.75, f"trained IMI recall@5 = $recall%.3f < 0.75 (c101's seeded floor — training must not cost recall)")
  }

  test("c104 IVFADC recall@5 vs the exact c6 baseline (served floor)") {
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val adcTop5 = VectorOps
      .c104AnnIvfAdc(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exactTop5.size == VectorOps.NumQueryVecs * 5)
    val recall = (exactTop5 & adcTop5).size.toDouble / exactTop5.size
    // near-random gate embeddings = the adversarial floor (measured
    // 0.580, deterministic geometry — cannot flake); the production
    // quality bar is the clustered leg above.
    assert(recall >= 0.55, f"IVFADC recall@5 = $recall%.3f < 0.55")
    info(f"IVFADC (k=${VectorOps.C24Lists}, nprobe=${VectorOps.C24Probes}): recall@5 = $recall%.3f")
  }

  test("IVF-PQ build/serve split: persisted centroids + codebooks serve identical top-k in a fresh session") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val (nClusters, perCluster) = (8, 50)
    val (cands, queries) = clusteredFrames(spark, nClusters, perCluster)
    val cents = VectorOps.trainCentroids(cands, nClusters, iters = 4)
    val seeds = cands
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(VectorOps.PqKs)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val cb = VectorOps.pqCodebooksOf(seeds)
    val built = VectorOps
      .annIvfPq(cands, queries, cents, cb, nprobe = 2, reRank = 60, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    VectorOps.saveIvfIndex(spark, s"$dir/ivf", cents)
    VectorOps.savePqIndex(spark, s"$dir/pq", cb)

    val serve = spark.newSession()
    val cb2 = VectorOps.loadPqIndex(serve, s"$dir/pq")
    cb.zip(cb2).foreach { case (subA, subB) =>
      subA.zip(subB).foreach { case (a, b) =>
        assert(a.sameElements(b), "codewords did not round-trip parquet bit-for-bit")
      }
    }
    val (cands2, queries2) = clusteredFrames(serve, nClusters, perCluster)
    val served = VectorOps
      .annIvfPq(cands2, queries2, VectorOps.loadIvfIndex(serve, s"$dir/ivf"), cb2, nprobe = 2, reRank = 60, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(served == built,
      s"served IVF-PQ diverged: missing=${(built -- served).take(3)} extra=${(served -- built).take(3)}")
  }

  test("c101 IMI ANN recall@5 vs the exact c6 baseline (served floor)") {
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val imiTop5 = VectorOps
      .c101AnnImi(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exactTop5.size == VectorOps.NumQueryVecs * 5)
    val recall = (exactTop5 & imiTop5).size.toDouble / exactTop5.size
    // the gate embeddings are near-random (the adversarial ANN floor);
    // the floor is the measured value minus slack — the geometry is
    // deterministic so this cannot flake. Production clustered
    // embeddings co-reside with their neighbors and recall rises.
    assert(recall >= 0.75, f"IMI recall@5 = $recall%.3f < 0.75")
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    info(f"IMI (hk=${VectorOps.imiHalfK(n)}, P=${VectorOps.ImiCellProbes}): recall@5 = $recall%.3f")
  }

  test("c7 LSH ANN recall@5 >= 0.9 vs the exact c6 baseline") {
    val exactTop5 = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter("rank <= 5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lshTop5 = VectorOps
      .c7AnnLsh(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exactTop5.size == VectorOps.NumQueryVecs * 5)
    val recall = (exactTop5 & lshTop5).size.toDouble / exactTop5.size
    assert(recall >= 0.9, f"recall@5 = $recall%.3f < 0.9 (missed ${(exactTop5 -- lshTop5).size} of ${exactTop5.size})")
  }

  // ——————————————————————————————————————————————————————————————————
  // c90 — the bitext-margin IVF scale path's parity contract vs c78.
  // The margin is a function of the candidate set, so "IVF ≡ exact"
  // holds exactly where the candidate set covers the pair's true
  // neighborhoods — checked bit-for-bit, not approximately.
  // ——————————————————————————————————————————————————————————————————

  test("c90 IVF bitext: probing every list degenerates to the exact c78 result bit-for-bit") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toSet
    val exact = rows(VectorOps.c78BitextMargin(spark, sf001))
    // nprobe = nlists ⇒ every src probes every list and every tgt sits in
    // one of them ⇒ the candidate set IS the all-pairs cross, so the two
    // plans must agree on every row, every float bit — this pins the
    // whole shared scoring tail (denominators, margins, best, aligned)
    val full = rows(
      VectorOps.c90BitextMarginIvf(spark, sf001, lists = VectorOps.BitextIvfLists, probes = VectorOps.BitextIvfLists)
    )
    assert(exact.nonEmpty && full == exact, s"degenerate-IVF divergence: ${(full -- exact).take(3)} vs ${(exact -- full).take(3)}")
  }

  test("c90 IVF bitext: doubly-covered pair margins match c78 bit-for-bit at default probes; real candidate reduction") {
    import VectorOps.{BitextIvfLists, BitextIvfProbes, BitextIvfMemberR, BitextMarginK}
    val allPairs = VectorOps.bitextAllPairs(spark, sf001).localCheckpoint()
    val cands = VectorOps
      .bitextIvfCandidates(spark, sf001, BitextIvfLists, BitextIvfProbes, BitextIvfMemberR)
      .localCheckpoint()
    def margins(df: org.apache.spark.sql.DataFrame) =
      VectorOps
        .bitextMargins(df)
        .collect()
        .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id")) -> r.getAs[Double]("margin"))
        .toMap
    val exactM = margins(allPairs)
    val ivfM = margins(cands)
    val cos = allPairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val candSet = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(candSet.size < cos.size, s"no reduction: ${candSet.size} candidates vs ${cos.size} pairs")
    // a side's denominator is exact iff its true top-k toward the other
    // side survived into the candidate set
    def covered(byAnchor: Map[Long, Seq[(Long, Double)]], inCand: (Long, Long) => Boolean): Set[Long] =
      byAnchor.collect {
        case (a, others)
            if others
              .sortBy { case (o, c) => (-c, o) }
              .take(BitextMarginK)
              .forall { case (o, _) => inCand(a, o) } =>
          a
      }.toSet
    val bySrc = cos.toSeq.groupBy(_._1._1).map { case (s, xs) => s -> xs.map { case ((_, t), c) => (t, c) } }
    val byTgt = cos.toSeq.groupBy(_._1._2).map { case (t, xs) => t -> xs.map { case ((s, _), c) => (s, c) } }
    val srcCov = covered(bySrc, (s, t) => candSet((s, t)))
    val tgtCov = covered(byTgt, (t, s) => candSet((s, t)))
    val doubly = candSet.filter { case (s, t) => srcCov(s) && tgtCov(t) }
    assert(doubly.nonEmpty, "no doubly-covered pairs — the parity leg checked nothing")
    val bad = doubly.filter(p => ivfM(p) != exactM(p))
    assert(bad.isEmpty, s"covered-pair margin divergence on ${bad.size} pairs, e.g. ${bad.take(3)}")
    info(s"doubly-covered pairs: ${doubly.size} of ${candSet.size} candidates (${cos.size} exact pairs)")
  }

  test("c90 IVF bitext: the SERVED AutoLists geometry recalls c78's best alignments (recall@1 >= 0.8)") {
    // The gate default moved from the pinned 10-list geometry to
    // lists ∝ √n (round 10's scale fix); the parity specs above still
    // pin BitextIvfLists, so without this test the geometry the gate
    // actually serves would only be covered by oracle hash-equality —
    // which mirrors the same scaling by construction and therefore
    // can't detect a recall collapse. It DID collapse: fixed probes=4
    // at 22 lists measured recall 0.551 (round 11's sweep), which is
    // what moved the served geometry to probes ∝ √lists + memberR=2
    // (measured 0.850 here). This runs the true default end to end;
    // the floor is the measured value minus slack, and the geometry
    // is deterministic so the measurement cannot flake.
    val n = graft.sources.Tables.embeddings(spark, sf001).count()
    val servedLists = VectorOps.scaledLists(n, VectorOps.BitextIvfLists)
    assert(servedLists > VectorOps.BitextIvfLists,
      s"gate SF must exercise the SCALED geometry (got $servedLists lists for n=$n)")
    def best(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = best(VectorOps.c78BitextMargin(spark, sf001))
    val served = best(VectorOps.c90BitextMarginIvf(spark, sf001)) // AutoLists default
    assert(exact.nonEmpty)
    val agree = exact.count { case (s, t) => served.get(s).contains(t) }
    val recall = agree.toDouble / exact.size
    assert(recall >= 0.8,
      f"served-geometry recall@1 = $recall%.3f < 0.8 ($agree of ${exact.size} srcs; $servedLists lists)")
    info(
      f"AutoLists=$servedLists probes=${VectorOps.scaledProbes(servedLists)} R=${VectorOps.BitextIvfMemberR}: " +
        f"best-alignment recall@1 = $recall%.3f ($agree/${exact.size})"
    )
  }

  test("c108 IMI-ADC runs on a 20-embedding corpus: codewords clamp to the 10 seeds past the queries") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_c108_small").toString
    spark.read
      .parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 20)
      .write
      .parquet(s"$dir/embeddings.parquet")
    val seeds = Array.tabulate(20 - VectorOps.NumQueryVecs)(i => Array.fill(VectorOps.Dim)(i.toDouble))
    assert(VectorOps.pqCodebooksOf(seeds).map(_.length).toSeq == Seq.fill(VectorOps.PqM)(10))
    assert(VectorOps.pqCodebooksOf(seeds ++ seeds).map(_.length).toSeq == Seq.fill(VectorOps.PqM)(VectorOps.PqKs))
    val none = intercept[IllegalArgumentException](VectorOps.pqCodebooksOf(Array.empty))
    assert(none.getMessage.contains("at least one seed vector"))

    val rows = VectorOps.c108AnnImiAdc(spark, dir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until VectorOps.NumQueryVecs).toSet)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length.toLong))
      assert(rs.length <= 5 && rs.forall(r => r.getLong(1) >= VectorOps.NumQueryVecs && r.getLong(1) < 20))
    }
  }
}
