package graft

import graft.operators.Similarity._
import org.apache.spark.sql.functions._

/** ANN search: brute-force exactness on a hand-built corpus; LSH
  * bucketing recall on clustered data (seed-42 hyperplanes →
  * deterministic).
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A maintained index's live rows: its committed snapshot. */
  private def liveRows(dir: String) =
    graft.operators.AtomicIncrement.readCommitted(spark, dir)

  /** The rows its committed data files hold, delete vectors NOT applied. */
  private def rawRows(dir: String) =
    spark.read.parquet(graft.operators.AtomicIncrement.committedFiles(
      spark, dir).map(f => s"$dir/$f"): _*)

  private def standingDvs(dir: String) =
    graft.operators.AtomicIncrement.latestSnapshot(spark, dir).dvs

  /** The batch dirs on disk, and those the latest manifest lists. */
  private def stagedDirs(dir: String): Set[String] =
    fsOf(dir).listStatus(new org.apache.hadoop.fs.Path(s"$dir/_data"))
      .map(_.getPath.getName).toSet
  private def committedDirs(dir: String): Set[String] = {
    val snap = graft.operators.AtomicIncrement.latestSnapshot(spark, dir)
    (snap.data ++ snap.dvs).map(_.path.split("/")(1)).toSet
  }

  /** An embedding column that fails whenever it is read. */
  private val failingRead = udf((v: Seq[Float]) => {
    if (v != null) throw new IllegalStateException("embedding read failed")
    v
  })

  test("bruteForceTopK returns the exact nearest neighbors in order") {
    // 2-d corpus with known geometry around the x axis
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f)),   // ~8° off
      (2L, Array(0.7f, 0.7f)),     // 45°
      (3L, Array(0.0f, 1.0f)),     // 90°
      (4L, Array(-1.0f, 0.0f))     // 180°
    ).toDF("vec_id", "embedding")
    val res = bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0L), k = 3)
      .orderBy(desc("cos"))
      .collect().map(r => r.getAs[Long]("neighbor_id"))
    assert(res.toSeq == Seq(1L, 2L, 3L))
  }

  test("brute-force top-k never exceeds k and excludes self") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val res = bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 3)
    val byQuery = res.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(_.length <= 3))
    assert(res.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("lshTopK recovers true neighbors on clustered data (the LSH contract)") {
    // 10 tight clusters of 10 vectors: true neighbors are
    // near-identical, so they share a signature bucket and recall is
    // total. (On *uniformly random* vectors hyperplane LSH has no
    // contract — nearest cosines are noise-level — so that is not the
    // property to test.)
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for {
      c <- centers.indices
      i <- 0 until 10
    } yield (c * 10L + i,
      centers(c).map(v => v + 0.01f * rnd.nextGaussian().toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 10 === 0) // one per cluster
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(bruteForceTopK(corpus, queries, k = 3))
    val lsh = pairs(lshTopK(corpus, queries, k = 3, numPlanes = 8, dim = dim))
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall == 1.0, s"recall $recall")
    assert(lsh.forall { case (a, b) => a != b })
  }

  test("ivfTopK recovers true neighbors on clustered data and bounds candidates") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // the hash quantizer's 8 picks over ids 0..79 are the 8 smallest
    // md5(id) values — 27,63,60,59,69,6,43,33; pin each to a distinct
    // cluster (remaining ids round-robin) so every inverted list seeds
    // in its own cluster, the same arrangement the stride quantizer got
    // for free from block membership
    val pickCluster = Map(27 -> 0, 63 -> 1, 60 -> 2, 59 -> 3,
      69 -> 4, 6 -> 5, 43 -> 6, 33 -> 7)
    def clusterOf(i: Int): Int = pickCluster.getOrElse(i, i % 8)
    val rows = for (i <- 0 until 80)
      yield (i.toLong,
        centers(clusterOf(i)).map(v => v + 0.01f * rnd.nextGaussian().toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    // one query per cluster (id 6 is a pick pinned to cluster 5, so
    // cluster 6's query is id 14)
    val queries = corpus.filter(col("vec_id")
      .isin(0L, 1L, 2L, 3L, 4L, 5L, 14L, 7L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(bruteForceTopK(corpus, queries, k = 3))
    val ivf = pairs(ivfTopK(corpus, queries, k = 3, numLists = 8))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall == 1.0, s"recall $recall")
    // widening nprobe can only add candidates — recall is monotone
    val ivf2 = pairs(ivfTopK(corpus, queries, k = 3, numLists = 8, nprobe = 2))
    val recall2 = (brute & ivf2).size.toDouble / brute.size
    assert(recall2 >= recall, s"nprobe=2 recall $recall2 < $recall")
  }

  test("kmeansCentroids moves hash centroids to cluster means; probe keeps recall") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat * 3f))
    // the hash quantizer's initial picks over ids 0..79 (the 4
    // smallest md5(id): 27, 63, 60, 59) are pinned to distinct true
    // clusters — Lloyd's job is then to move each pick (a noisy
    // member) onto its cluster MEAN
    val pickCluster = Map(27 -> 0, 63 -> 1, 60 -> 2, 59 -> 3)
    def clusterOf(i: Int): Int = pickCluster.getOrElse(i, i % 4)
    val rows = for (i <- 0 until 80)
      yield (i.toLong,
        centers(clusterOf(i)).map(v => v + 0.01f * rnd.nextGaussian().toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val refined = kmeansCentroids(corpus, k = 4, iters = 2)
    assert(refined.size == 4)
    // every true center is recovered by some refined centroid
    // (max dim distance far below inter-center spacing)
    centers.foreach { tc =>
      val best = refined.map { case (_, c) =>
        tc.zip(c).map { case (a, b) => math.abs(a - b) }.max }.min
      assert(best < 0.05, s"no refined centroid near a true center ($best)")
    }
    val queries = corpus.filter(col("vec_id") < 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(bruteForceTopK(corpus, queries, k = 3))
    val km = pairs(kmeansTopK(corpus, queries, k = 3, numLists = 4, iters = 2))
    assert((brute & km).size.toDouble / brute.size == 1.0)
    // sample-based Lloyd (the 100 TB shape: refine on the md5-half,
    // one full assignment in the probe) keeps the same recall — tight
    // clusters mean the sampled means sit next to the full means
    val kmS = pairs(kmeansTopK(corpus, queries, k = 3, numLists = 4,
      iters = 2, sampleFrac = 0.5))
    assert((brute & kmS).size.toDouble / brute.size == 1.0)
  }

  test("pqTopK: ADC ranking stays inside the true cluster and the " +
      "quantized score tracks the exact inner product") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // same pinned-pick arrangement as the ivf test: each of the hash
    // quantizer's 8 picks seeds a distinct cluster
    val pickCluster = Map(27 -> 0, 63 -> 1, 60 -> 2, 59 -> 3,
      69 -> 4, 6 -> 5, 43 -> 6, 33 -> 7)
    def clusterOf(i: Int): Int = pickCluster.getOrElse(i, i % 8)
    val rows = for (i <- 0 until 80)
      yield (i.toLong,
        centers(clusterOf(i)).map(v => v + 0.01f * rnd.nextGaussian().toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id")
      .isin(0L, 1L, 2L, 3L, 4L, 5L, 14L, 7L))
    val res = pqTopK(corpus, queries, k = 3, numLists = 8,
      numSubspaces = 4, dim = dim).collect()
    assert(res.nonEmpty)
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 8 && byQuery.values.forall(_.length == 3))
    // cluster purity: with near-identical in-cluster vectors PQ codes
    // can tie (that is the point of quantization), so the contract is
    // "every returned neighbor is a true cluster-mate", not an exact
    // brute-force match
    res.foreach { r =>
      val q = r.getAs[Long]("query_id").toInt
      val n = r.getAs[Long]("neighbor_id").toInt
      assert(clusterOf(q) == clusterOf(n),
        s"neighbor $n of query $q crossed clusters")
      assert(q != n)
    }
    // the quantized ADC score tracks the exact inner product. Max-dot
    // encoding is upward-biased (a subvector may encode to a codebook
    // entry with a HIGHER dot than its own cluster-mate — inherent to
    // inner-product PQ), so the bound is relative, not the in-cluster
    // noise floor: within ~15% on cluster-scale dots
    val vecs = rows.toMap
    res.foreach { r =>
      val q = vecs(r.getAs[Long]("query_id"))
      val n = vecs(r.getAs[Long]("neighbor_id"))
      val exact = q.zip(n).map { case (a, b) => a.toDouble * b }.sum
      assert(math.abs(r.getAs[Double]("adot") - exact) <
        0.15 * math.abs(exact) + 0.75,
        s"ADC ${r.getAs[Double]("adot")} far from exact $exact")
    }
  }

  test("persisted PQ index: probe equals the direct path and prunes to " +
      "the probed list partitions") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    val direct = pqTopK(e, queries, k = 3)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    writePqIndex(e, dir)
    val probed = probePqIndex(spark, dir, queries, k = 3)
    assert(probed.orderBy("query_id", "neighbor_id").collect().toSeq == direct)
    // the sidecar rebuilds bit-identical centroids and records the
    // build params the probe derives its schema from
    val (cents, m, d) = readPqSidecar(spark, dir)
    assert(cents == hashCentroids(e, 16) && m == 8 && d == 64)
    // pruning: the probe join must carry a DYNAMIC partition filter on
    // list_id (isnotnull alone appears for any join key and proves
    // nothing), so only the probed lists' directories are read
    val plan = probed.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the codes scan:\n$plan")
    // versioned publication: rebuilds publish a new version and retain
    // only the previous one for in-flight readers
    writePqIndex(e, dir)
    writePqIndex(e, dir)
    val versions = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(_.getFileName.toString).filter(_.startsWith("v")).toSeq.sorted
    }
    assert(versions == Seq("v2", "v3"), s"version retention broke: $versions")
    assert(probePqIndex(spark, dir, queries, k = 3)
      .orderBy("query_id", "neighbor_id").collect().toSeq == direct)
  }

  test("persisted IVF index: probe equals kmeansTopK and prunes to the " +
      "probed list partitions") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val direct = kmeansTopK(e, queries, k = 3, iters = 2, sampleFrac = 0.5)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    writeIvfIndex(e, dir, numLists = 16, iters = 2, sampleFrac = 0.5)
    val probed = probeIvfIndex(spark, dir, queries, k = 3)
    assert(probed.orderBy("query_id", "neighbor_id").collect().toSeq == direct)
    val plan = probed.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the IVF codes scan:\n$plan")
  }

  test("versioned index publication: a reader racing repeated publishes " +
      "only ever reads a complete, monotone version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vrace").toString
    val publishes = 400
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      var last = 0L
      while (!done) {
        try indexVersion(spark, dir).foreach { v =>
          if (v < last) errors.add(s"version went back: $last -> $v")
          last = v
        } catch { case t: Throwable => errors.add(t.toString) }
        reads.incrementAndGet()
      }
    })
    reader.start()
    try for (v <- 1L to publishes) publishVersion(spark, dir, v, s"#v $v")
    finally { done = true; reader.join() }
    val failed = errors.size
    assert(failed == 0, s"$failed of ${reads.get} reads failed, " +
      s"e.g. ${errors.peek}")
    assert(reads.get > 0)
    assert(indexVersion(spark, dir).contains(publishes.toLong))
  }

  test("lshSignature buckets co-directional vectors together") {
    val planes = hyperplanes(8, 2)
    val df = Seq(
      (0L, Array(1.0f, 0.01f)),
      (1L, Array(0.9f, 0.012f)),   // same direction, different norm
      (2L, Array(-1.0f, -0.01f))   // opposite
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), lshSignature(col("embedding"), planes).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    // opposite vector flips every plane
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) == 8)
  }

  test("q_knn_label vote mechanics match a driver-side recomputation") {
    // fdot promotes float→double and accumulates left-to-right; the
    // same loop here reproduces its doubles bitwise, so the k-cut and
    // vote must agree exactly (the fixture's labels are independent of
    // geometry — chance accuracy — which is WHY this pins mechanics)
    val rows = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val corpus = rows.filter(_._1 % 5 != 0)
    val expected = rows.filter(_._1 % 5 == 0).map { case (qid, qv, _) =>
      val top = corpus
        .map { case (cid, cv, cl) =>
          (dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv))),
            cid, cl)
        }
        .sortBy { case (cos, cid, _) => (-cos, cid) }.take(5)
      val (label, votes) = top.groupBy(_._3).view.mapValues(_.length)
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      (qid, label, votes.toLong)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.registry("q_knn_label").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q_hard_negatives: nearest CROSS-label neighbors, driver replay agrees") {
    val rows = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val corpus = rows.filter(_._1 % 5 != 0)
    val expected = rows.filter(_._1 % 5 == 0).flatMap { case (qid, qv, ql) =>
      corpus.filter(_._3 != ql)
        .map { case (cid, cv, cl) =>
          (qid, cid, cl,
            dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv))))
        }
        .sortBy { case (_, cid, _, cos) => (-cos, cid) }.take(3)
        .map { case (q, c, l, cos) =>
          (q, c, l, BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = SparkEntry.registry("q_hard_negatives").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
    // structural guard the replay can't miss: no own-label leak
    val labels = rows.map(t => t._1 -> t._3).toMap
    assert(got.forall { case (q, _, nl, _) => labels(q) != nl })
  }

  test("q_hard_negatives_ivf: probed subset of the brute pair space, no own-label leak") {
    val labels = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val got = SparkEntry.registry("q_hard_negatives_ivf").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // label contract holds through the probe
    assert(got.forall { case (q, _, nl, _) => labels(q) != nl })
    // ≤ 3 negatives per query, scored identically to the brute twin
    // wherever both emit the pair (same cosine arithmetic)
    assert(got.groupBy(_._1).values.forall(_.length <= 3))
    val brute = SparkEntry.registry("q_hard_negatives").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    got.foreach { case (q, n, _, cos) =>
      brute.get((q, n)).foreach(b => assert(b == cos,
        s"pair ($q,$n) scored $cos via IVF but $b brute"))
    }
  }

  test("q_corpus_map: clusters partition the corpus; ratios reconcile") {
    val rows = SparkEntry.registry("q_corpus_map").fn(spark, sfDir).collect()
    val total = graft.sources.Tables.table(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total, "cluster sizes must partition")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 0.01)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 16)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(2) ==
        math.rint(r.getLong(1).toDouble / total * 10000) / 10000)
    }
    InternalCaches.drain(blocking = true)
  }

  test("q_mmr_select: every greedy step matches a bitwise driver replay") {
    val rows = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val seed = rows.minBy(t => (h(t._1), t._1))._2
    val rel = rows.map { case (id, v) => id -> cos(v, seed) }.toMap
    val byId = rows.toMap
    // greedy replay, λ=0.7 / 0.3, ties by vec_id
    var sel = Vector.empty[Long]
    while (sel.size < 5) {
      val cand = rows.filter(t => !sel.contains(t._1)).map { case (id, v) =>
        val div = if (sel.isEmpty) 0.0
          else sel.map(s => cos(v, byId(s))).max
        (id, 0.7 * rel(id) - 0.3 * div)
      }
      sel :+= cand.minBy { case (id, sc) => (-sc, id) }._1
    }
    val got = SparkEntry.registry("q_mmr_select").fn(spark, sfDir)
      .collect().map(_.getLong(1)).toSeq
    assert(got == sel, s"spark $got vs replay $sel")
    InternalCaches.drain()
    spark.catalog.clearCache()
  }

  test("mmrSelectBatched ≡ mmrSelect: same panel, scores, ranks at every batch size") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    // k past the driver round-trip savings threshold, batch sizes
    // spanning degenerate-sequential (1), partial rounds (3), one
    // round (≥ k), and bound-never-fires (whole corpus collected)
    val seq = Similarity.mmrSelect(emb, k = 9).collect().toSeq
    for (b <- Seq(1, 3, 9, 16, 4096)) {
      val bat = Similarity.mmrSelectBatched(emb, k = 9, batch = b)
        .collect().toSeq
      assert(bat == seq, s"batch=$b: $bat vs sequential $seq")
      InternalCaches.drain()
      spark.catalog.clearCache()
    }
    // diversity-heavy weights on a clustered fixture exercise the
    // intra-round score updates (negative-cosine fold start included)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    import spark.implicits._
    val rows = (1L to 12L).sortBy(id => (h(id), id)).zipWithIndex.map {
      case (id, i) =>
        // opposing vectors force negative cosines into the div fold
        (id, Seq(0, 1, 2).map(d =>
          (if (i % 2 == 0) 1f else -1f) * (if (d == i % 3) 1f else 0.01f * i)))
    }.toDF("vec_id", "embedding")
    val s2 = Similarity.mmrSelect(rows, k = 7, lambda = 0.3, divWeight = 0.7)
      .collect().toSeq
    for (b <- Seq(2, 5)) {
      val b2 = Similarity.mmrSelectBatched(rows, k = 7, lambda = 0.3,
        divWeight = 0.7, batch = b).collect().toSeq
      assert(b2 == s2, s"clustered batch=$b: $b2 vs $s2")
    }
    InternalCaches.drain()
    spark.catalog.clearCache()
  }

  test("mmrSelect diversifies across clusters where pure relevance stays home") {
    import spark.implicits._
    // the harness embeddings are isotropic noise — the diversity term
    // barely moves ranks there, so the property needs a clustered
    // fixture: three orthogonal clusters, the md5-min id pinned into
    // cluster A so the relevance seed lands there deterministically
    val ids = (1L to 12L)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sorted = ids.sortBy(id => (h(id), id))
    def vec(cluster: Int, jitter: Float): Seq[Float] = cluster match {
      case 0 => Seq(1f, jitter, 0f, 0f)
      case 1 => Seq(0f, 1f, jitter, 0f)
      case _ => Seq(jitter, 0f, 0f, 1f)
    }
    // seed id → pure cluster-A vector; then round-robin the rest
    val rows = sorted.zipWithIndex.map { case (id, i) =>
      if (i == 0) (id, vec(0, 0f))
      else (id, vec(i % 3, 0.01f * (i + 1)))
    }
    val clusterOf = rows.map { case (id, v) =>
      id -> v.zipWithIndex.maxBy(_._1)._2
    }.toMap
    val corpus = rows.toDF("vec_id", "embedding")
    // diversity-heavy weights: after one cluster-A pick the in-cluster
    // penalty (~0.7) swamps in-cluster relevance (~0.3) and the greedy
    // walk must leave home; pure relevance (top-3 cosine) never does
    val picked = graft.operators.Similarity
      .mmrSelect(corpus, k = 3, lambda = 0.3, divWeight = 0.7)
      .collect().map(_.getLong(1)).toSeq
    assert(picked.map(clusterOf).distinct.length == 3,
      s"MMR picked clusters ${picked.map(clusterOf)} — expected all three")
    InternalCaches.drain()
    spark.catalog.clearCache()
  }

  test("nearestCentroid classifies separated clusters perfectly; " +
      "centroids equal the hand-computed means") {
    // 4 tight clusters labeled by cluster id: the class prototype is
    // the cluster mean, so every member's nearest centroid is its own
    // label (geometry-true fixture; the sf tables' labels are random)
    val rnd = new scala.util.Random(11)
    val dim = 8
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for { c <- centers.indices; i <- 0 until 12 } yield
      (c * 12L + i, centers(c).map(v => v + 0.02f * rnd.nextGaussian().toFloat), c)
    val emb = rows.toDF("vec_id", "embedding", "label")
    val pred = nearestCentroid(emb)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
    assert(pred.length == 48)
    assert(pred.forall { case (_, (lbl, p)) => p == lbl },
      s"misclassified: ${pred.filter { case (_, (l, p)) => l != p }.toSeq}")
    // centroid cells are the plain per-dimension means
    val cent = labelCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cent.size == 4 * dim)
    val byLabel = rows.groupBy(_._3)
    for (((lbl, pos), c) <- cent) {
      val xs = byLabel(lbl).map(_._2(pos - 1).toDouble)
      assert(math.abs(c - xs.sum / xs.length) < 1e-9)
    }
  }

  test("ensureKmeansQuantizer: fit-once artifact, bit-identical to a fresh fit") {
    graft.sources.DerivedCache.vacuumKinds(spark, Set("kmeans-cents"))
    val first = ensureKmeansQuantizer(spark, sfDir)
    val cacheDir = graft.sources.DerivedCache.dirFor(spark,
      s"$sfDir/embeddings.parquet", "kmeans-cents", "16-2-0.5")
    val tsv = new java.io.File(s"$cacheDir/centroids.tsv")
    assert(tsv.exists, "first call must publish the sidecar")
    val mtime = tsv.lastModified
    val second = ensureKmeansQuantizer(spark, sfDir)
    // second call reads the artifact (no rewrite) and the tsv
    // round-trip is bit-exact — Double.toString/toDouble is the
    // shortest round-tripping representation
    assert(tsv.lastModified == mtime, "second call must not rebuild")
    assert(second == first)
    val fresh = kmeansCentroids(
      graft.sources.Tables.table(spark, sfDir, "embeddings"), 16, 2,
      sampleFrac = 0.5)
    assert(first == fresh, "artifact must be indistinguishable from a fresh fit")
  }

  test("incremental IVF: appended index answers identically to the " +
      "batch probe, increments replay idempotently, a crashed build " +
      "re-runs to the same index") {
    graft.sources.DerivedCache.vacuumKinds(spark, Set("index-ivf-inc"))
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val cents = ensureKmeansQuantizer(spark, sfDir)
    def probe(dir: String) =
      probeIvfIncremental(spark, dir, cents, panel, k = 3)
        .orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dir = ensureIvfIncremental(spark, sfDir)
    val inc = probe(dir)
    // equivalence: the batch-assigned probe over the same frozen
    // centroids ranks identically — incremental growth is invisible
    val batch = ivfTopKWithCentroids(e, panel, cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc == batch, "incremental index diverged from batch build")
    // replay: the sink records batch 1, so its redelivery applies
    // nothing — postings don't duplicate, answers unchanged
    assert(!appendIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 1), cents, 1L))
    assert(probe(dir) == inc)
    val n = liveRows(dir).count()
    assert(n == e.count(), s"postings duplicated: $n")
    // crash shield: no root marker → ensure re-runs both appends, which
    // no-op as replays, and converges to the same index
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), false)
    assert(ensureIvfIncremental(spark, sfDir) == dir)
    assert(probe(dir) == inc)
  }

  test("incremental IVF deletes + compaction: tombstone mask ≡ " +
      "compacted rewrite ≡ batch probe minus deleted; replays across " +
      "the compaction no-op; new increments still land") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val cents = ensureKmeansQuantizer(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfdel").toString
    def probe() = probeIvfIncremental(spark, dir, cents, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    appendIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 0), cents, 0L)
    appendIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 1), cents, 1L)
    deleteIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"), 2L)
    val masked = probe()
    // reference: the batch probe over the corpus minus the deleted ids
    val expect = ivfTopKWithCentroids(
        e.filter(pmod(col("vec_id"), lit(7)) =!= 3), panel, cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(masked == expect, "delete-vector mask diverged from batch probe")
    // deleted vectors stay valid queries but are never neighbors
    assert(masked.exists(t => t._1 % 7 == 3))
    assert(!masked.exists(t => t._2 % 7 == 3))
    compactIvfIncremental(spark, dir)
    assert(probe() == expect, "compacted index diverged from the mask")
    // physical removal: no delete vector stands, and the committed
    // files hold exactly the live rows
    val liveN = e.filter(pmod(col("vec_id"), lit(7)) =!= 3).count()
    assert(standingDvs(dir).isEmpty, "compaction left a delete vector")
    assert(rawRows(dir).count() == liveN)
    // replays straddling the compaction no-op: its commits keep the
    // sink's recorded batch id
    assert(!appendIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 1), cents, 1L))
    assert(!deleteIvfIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"), 2L))
    assert(liveRows(dir).count() == liveN,
      "replayed increment re-inserted folded rows")
    assert(probe() == expect)
    // a genuinely NEW increment past the recorded id still lands
    assert(appendIvfIncrement(spark, dir,
      e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      cents, 3L))
    assert(liveRows(dir).count() == liveN + 8)
  }

  test("a maintenance commit that fails mid-stage changes nothing: the " +
      "snapshot and the probe stay, and the same batch id then applies") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val cents = ensureKmeansQuantizer(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcrash").toString
    def probe() = probeIvfIncremental(spark, dir, cents, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    appendIvfIncrement(spark, dir, even, cents, 0L)
    val before = probe()
    val snap = graft.operators.AtomicIncrement.latestSnapshot(spark, dir)
    // batch 1 dies mid-stage: its embeddings fail when read
    intercept[Exception] {
      appendIvfIncrement(spark, dir,
        odd.withColumn("embedding", failingRead(col("embedding"))), cents, 1L)
    }
    val after = graft.operators.AtomicIncrement.latestSnapshot(spark, dir)
    assert(after.version == snap.version && after.lastBatch == Some(0L),
      "a failed stage moved the snapshot")
    assert(probe() == before, "a failed stage leaked into a probe")
    assert(stagedDirs(dir) == committedDirs(dir),
      "the failed stage's files outlived it")
    // the same batch id applies when it is replayed with good data
    assert(appendIvfIncrement(spark, dir, odd, cents, 1L))
    assert(probe() == ivfTopKWithCentroids(e, panel, cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("an upsert batch whose embeddings fail to read applies nothing: " +
      "probes keep the pre-batch answers, and its replay with good data " +
      "applies") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val cents = ensureKmeansQuantizer(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfatom").toString
    def probe() = probeIvfIncremental(spark, dir, cents, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    appendIvfIncrement(spark, dir, e, cents, 0L)
    val before = probe()
    // every id upserts: doc 1 re-embedded as doc 2's vector, the rest
    // with their own. The delete half needs only vec_id, the re-append
    // half reads the embeddings, which fail.
    val good = e.filter(col("vec_id") =!= 1L)
      .select(col("vec_id"), col("embedding"), lit("upsert").as("op"))
      .unionByName(e.filter(col("vec_id") === 2L).select(lit(1L).as("vec_id"),
        col("embedding"), lit("upsert").as("op")))
    intercept[Exception] {
      upsertIvfIncrement(spark, dir,
        good.withColumn("embedding", failingRead(col("embedding"))), cents, 1L)
    }
    assert(probe() == before, "a failed upsert batch changed the index")
    assert(upsertIvfIncrement(spark, dir, good, cents, 1L))
    val got = probe()
    // doc 1 now carries doc 2's exact vector → cosine 1.0 for query 2
    assert(got.contains((2L, 1L, 1.0)),
      s"the replayed upsert did not apply: ${got.filter(_._1 == 2L)}")
  }

  test("PQ index deletes + compaction: tombstone mask ≡ compacted " +
      "codes; sidecar carried forward; physical removal; tombstone " +
      "replay idempotent") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val doomed = e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_pqdel").toString
    val cents = hashCentroids(e, 16)
    appendPqIncrement(spark, dir, e, cents, 0L)
    deleteIvfIncrement(spark, dir, doomed, 1L)
    def probe() = probePqIncremental(spark, dir, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val masked = probe()
    // the mask ranks like a fresh encode of the corpus minus the
    // deleted ids; deleted vectors stay valid queries, never neighbors
    assert(masked == pqProbe(pqEncode(
        e.filter(pmod(col("vec_id"), lit(7)) =!= 3), cents), panel, cents,
        k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    assert(masked.exists(t => t._1 % 7 == 3))
    assert(!masked.exists(t => t._2 % 7 == 3))
    // a replayed delete batch applies nothing — answers unchanged
    assert(!deleteIvfIncrement(spark, dir, doomed, 1L))
    assert(probe() == masked)
    val sidecar = new java.io.File(s"$dir/centroids.tsv")
    val sidecarBefore = (sidecar.lastModified,
      java.nio.file.Files.readAllBytes(sidecar.toPath).toSeq)
    compactIvfIncremental(spark, dir)
    assert(probe() == masked, "compacted codes diverged from the mask")
    assert((sidecar.lastModified,
        java.nio.file.Files.readAllBytes(sidecar.toPath).toSeq) ==
      sidecarBefore, "compaction must leave the frozen codebook sidecar")
    assert(standingDvs(dir).isEmpty, "compaction left a delete vector")
    val liveN = rawRows(dir).count()
    assert(liveN == e.count() - doomed.count(),
      s"compaction did not remove deleted codes: $liveN")
    // a post-compaction re-delete of already-gone ids is a no-op
    assert(deleteIvfIncrement(spark, dir, doomed, 2L))
    assert(probe() == masked)
  }

  test("incremental PQ ingest: frozen-codebook increments probe " +
      "identically to a fresh full encode; replays idempotent; a " +
      "crashed build converges") {
    graft.sources.DerivedCache.vacuumKinds(spark, Set("index-pq-inc"))
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    def probe(dir: String) = probePqIncremental(spark, dir, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dir = ensurePqIncremental(spark, sfDir)
    val inc = probe(dir)
    // pqTopK fits the same md5-rank codebook on the full corpus, so a
    // fresh full encode must rank identically — incremental growth of
    // the compressed index is invisible to probes
    val batch = pqTopK(e, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc == batch, "incremental PQ index diverged from full encode")
    // replay: the sink records batch 1, so its redelivery applies nothing
    val cents = hashCentroids(e, 16)
    assert(!appendPqIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 1), cents, 1L))
    assert(probe(dir) == inc)
    assert(liveRows(dir).count() == e.count(),
      "replayed increment duplicated codes")
    // crash shield: no root marker → ensure re-runs both appends
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), false)
    assert(ensurePqIncremental(spark, sfDir) == dir)
    assert(probe(dir) == inc)
  }

  test("incremental PQ CDC: upsert ranks by the new codes, takedowns " +
      "vanish, compaction is physical, folded replays no-op") {
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val panel = e.filter(col("vec_id") < 32)
    val cents = hashCentroids(e, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqups").toString
    def probe() = probePqIncremental(spark, dir, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    appendPqIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 0), cents, 0L)
    appendPqIncrement(spark, dir,
      e.filter(pmod(col("vec_id"), lit(2)) === 1), cents, 1L)
    // the q_ann_ivf_upsert mutation on the compressed index: re-embed
    // every vec_id % 5 == 1 doc with vec_id+1's vector, take down
    // every vec_id % 7 == 3
    val next = e.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").as("__new_emb"))
    val ups = e.select("vec_id").join(next, "vec_id")
      .filter(pmod(col("vec_id"), lit(5)) === 1 &&
        pmod(col("vec_id"), lit(7)) =!= 3)
      .select(col("vec_id"), col("__new_emb").as("embedding"),
        lit("upsert").as("op"))
    val dels = e.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    upsertPqIncrement(spark, dir, ups.unionByName(dels), cents, 2L)
    val got = probe()
    // reference: a fresh full encode of the MUTATED corpus under the
    // same frozen codebook (queries keep their original vectors)
    val mutated = e.join(next, Seq("vec_id"), "left")
      .filter(pmod(col("vec_id"), lit(7)) =!= 3)
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(5)) === 1 && col("__new_emb").isNotNull,
          col("__new_emb")).otherwise(col("embedding")).as("embedding"))
    val expect = pqProbe(pqEncode(mutated, cents), panel, cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, "upserted PQ index diverged from mutated encode")
    assert(!got.exists(_._2 % 7 == 3), "a takedown surfaced as a neighbor")
    // compaction: physical removal, probe unchanged
    compactIvfIncremental(spark, dir)
    assert(probe() == expect, "compacted codes diverged")
    assert(standingDvs(dir).isEmpty, "compaction left a delete vector")
    val liveN = rawRows(dir).count()
    assert(liveN == mutated.count(), s"stale codes survived the fold: $liveN")
    // the pass's vacuums reclaimed every file the folded snapshot no
    // longer lists: what stays on disk is exactly what is committed
    assert(stagedDirs(dir) == committedDirs(dir),
      "compaction left superseded files on disk")
    // folded replay no-ops; a genuinely new increment still lands
    assert(!upsertPqIncrement(spark, dir, ups.unionByName(dels), cents, 2L))
    assert(liveRows(dir).count() == liveN)
    assert(probe() == expect)
    assert(appendPqIncrement(spark, dir,
      e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      cents, 3L))
    assert(liveRows(dir).count() == liveN + 8)
  }

  test("centroidDrift: counts reconcile on harness data; clustered fixture separates stable from shifted") {
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val rows = SparkEntry.queries("q_centroid_drift")(spark, sfDir).collect()
    val total = rows.map(r =>
      r.getAs[Long]("n_old") + r.getAs[Long]("n_new")).sum
    assert(total == emb.count())
    // harness labels are NOT clustered: both halves' prototypes are
    // noise means, so |drift| stays far from ±1 — the audit reads
    // "no stable prototype", which is itself the finding
    assert(rows.forall(r => math.abs(r.getAs[Double]("drift_cos")) < 0.9))
    // clustered fixture: label prototypes are real, so
    // same-distribution halves sit near 1...
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val fix = (0 until 120).map { i =>
      (i.toLong, i % 3,
        centers(i % 3).map(v => v + 0.05f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "label", "embedding")
    val stable = centroidDrift(fix, pmod(col("vec_id"), lit(2)) === 1)
      .collect()
    assert(stable.length == 3 &&
      stable.forall(_.getAs[Double]("drift_cos") > 0.99))
    // ...and a genuinely shifted new half (negated vectors) flips the
    // prototype: cosine −1
    val shifted = fix.withColumn("embedding",
      when(pmod(col("vec_id"), lit(2)) === 1,
        transform(col("embedding"), x => -x)).otherwise(col("embedding")))
    assert(centroidDrift(shifted, pmod(col("vec_id"), lit(2)) === 1)
      .collect().forall(_.getAs[Double]("drift_cos") < -0.99))
  }

  test("q_semdedup survivors match an independent driver replay") {
    // straight-line reference: collect the harness embeddings, assign
    // each to its argmax-dot centroid (tie -> smaller cid, the same
    // contract nearestCentroid implements in codegen), then drop any
    // vector with a lower-id cluster-mate at cosine >= 0.4 — computed
    // with plain Scala doubles, no Spark expressions shared with the
    // operator under test.
    val dir = sfDir
    val got = SparkEntry.queries("q_semdedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.sources.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val cents = kmeansCentroids(
      graft.sources.Tables.table(spark, dir, "embeddings"), 16, 2,
      sampleFrac = 0.5)
    def dot(a: Array[Double], b: Seq[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val assign = rows.map { case (id, v) =>
      val best = cents.map { case (cid, c) => (-dot(v, c), cid) }.min._2
      id -> best
    }.toMap
    val byCluster = rows.groupBy { case (id, _) => assign(id) }
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val dropped = byCluster.values.flatMap { members =>
      val sorted = members.sortBy(_._1)
      sorted.filter { case (idB, vB) =>
        sorted.exists { case (idA, vA) =>
          idA < idB && dot(vB, vA.toSeq) / (norm(vA) * norm(vB)) >= 0.4
        }
      }.map(_._1)
    }.toSet
    val expected = rows.collect {
      case (id, _) if !dropped(id) => id -> assign(id)
    }.toMap
    assert(got == expected,
      s"survivor sets differ: spark-only=${(got.keySet -- expected.keySet).toSeq.sorted.take(5)} " +
        s"replay-only=${(expected.keySet -- got.keySet).toSeq.sorted.take(5)}")
    assert(dropped.nonEmpty, "fixture never exercises the drop direction")
    InternalCaches.drain()
    spark.catalog.clearCache()
  }

}
