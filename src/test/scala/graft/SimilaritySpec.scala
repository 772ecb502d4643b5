package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{K, Kernel, TopKAgg}
import graft.operators.{Sampling, Similarity, VectorIndex}

/** TopKAgg vs the window formulation it replaced, plus the plan-shape
  * guarantees (partial aggregation, no Window/full-product exchange). */
class SimilaritySpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("mutualKnnPairs: every edge is mutual; one-directional hub edges are cut") {
    val k = 3
    val pairs = Similarity.mutualPairs(Similarity.knnCandidates(e, "vec_id", "embedding", k))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a < b })
    // independent kNN recomputation: mutuality must hold exactly
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val knn = Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", k + 1)
      .filter(col("qid") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (a, b) => knn((a, b)) && knn((b, a)) })
    // and every mutual kNN pair is present (no edge dropped)
    assert(knn.forall { case (a, b) =>
      !(a < b && knn((b, a))) || pairs((a, b)) })
  }

  test("semanticClusters: labels are a CC fixpoint (edge endpoints share labels)") {
    val pairs = Similarity.mutualPairs(Similarity.knnCandidates(e, "vec_id", "embedding", 3))
      .localCheckpoint()
    val labels = Similarity.semanticClusters(e, "vec_id", "embedding", 3, iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    ps.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters") }
    // every label is the MINIMUM id of its component
    labels.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c not labeled by its min id") }
  }

  test("clusterBalancedSample: ≤ maxN per cluster, lowest id-hash first") {
    val maxN = 2
    val kept = Sampling.capPerKey(
        Similarity.semanticClusters(e, "vec_id", "embedding", 3, iterations = 20),
        "cluster", "id", maxN)
      .select(col("id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val labels = Similarity.semanticClusters(e, "vec_id", "embedding", 3, iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty)
    kept.foreach { case (id, c) => assert(labels(id) == c, s"kept ($id,$c) not a labeled member") }
    def hv(id: Long): Long = ((id % K.M + K.M) % K.M * K.A2 + K.C2) % K.M
    labels.groupBy(_._2).foreach { case (c, members) =>
      val got = kept.filter(_._2 == c).map(_._1).sortBy(id => (hv(id), id)).toSeq
      val want = members.keys.toSeq.sortBy(id => (hv(id), id)).take(maxN)
      assert(got == want, s"cluster $c kept $got, expected the $maxN lowest-hash $want")
    }
  }

  test("knnJoin == row_number window formulation on real embeddings") {
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val fast = Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

    val joined = e.crossJoin(broadcast(q))
      .withColumn("score", Kernel.cosine(col("embedding"), col("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id").asc)
    val slow = joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id"), col("rank"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(fast == slow)
  }

  test("knnJoin plan: partial top-k aggregation, no Window operator") {
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val plan = Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window must be gone:\n$plan")
    assert(plan.contains("partial_topkagg"), s"expected map-side partial top-k:\n$plan")
  }

  test("ivfFlat: sane ranks, corpus-narrow assignment, probe recall vs brute force") {
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ivf = Similarity.ivfFlat(q, "qid", "qv", e, "vec_id", "embedding", 16, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(ivf.nonEmpty)
    // per query: ranks are 1..n contiguous, scores non-increasing
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rows.length).toSeq)
      assert(sorted.map(_._4).toSeq.reverse == sorted.map(_._4).toSeq.reverse.sorted)
    }
    // probing ALL cells must recover exact brute-force top-k
    val all = Similarity.ivfFlat(q, "qid", "qv", e, "vec_id", "embedding", 16, 16, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val brute = Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(all == brute)
  }

  test("pqSearch: ADC ranks over codes; full-probe ivfPq == plain PQ") {
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cb = Similarity.pqCodebook(e, "vec_id", "embedding", 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb, m = 8)
    // codes are m small ints per row — the compressed search state
    assert(codes.head().getSeq[Long](1).length == 8)
    val pq = Similarity.pqSearch(q, "qid", "qv", codes, "vec_id", cb, 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    pq.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rows.length).toSeq)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted) // dist asc
    }
    // probing every coarse cell must reduce IVF-PQ to plain PQ exactly
    val full = Similarity.ivfPq(q, "qid", "qv", e, "vec_id", "embedding",
      nCells = 16, nProbe = 16, m = 8, nCentsPq = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(full == pq.toSet)
  }

  test("trainKmeans: partitioning-invariant centroids (integer accumulation)") {
    val c1 = Similarity.trainKmeans(e, "vec_id", "embedding", 8, 2)
    val c2 = Similarity.trainKmeans(e.repartition(13), "vec_id", "embedding", 8, 2)
    // a raw double mean would differ across shuffle orders; the
    // quantized-integer update must be bit-identical
    assert(c1.map(_._1).toSeq == c2.map(_._1).toSeq)
    c1.zip(c2).foreach { case ((_, v1), (_, v2)) => assert(v1.toSeq == v2.toSeq) }
    // trained centroids move off the init (they are means, not rows) —
    // Seq-vs-Seq so the comparison is structural, not array reference
    val init = Similarity.pqCodebook(e, "vec_id", "embedding", 8)
    assert(c1.map(_._2.toSeq).toSeq != init.map(_.toSeq).toSeq)
  }

  test("native LshBucket == HOF formulation on real embeddings") {
    val cmp = e
      .withColumn("fast", Similarity.lshBucket(col("embedding"), K.Dim, 8))
      .withColumn("hof", Similarity.lshBucketHof(col("embedding"), K.Dim, 8))
      .filter(col("fast") =!= col("hof"))
    assert(cmp.count() == 0)
    val cmp16 = e
      .withColumn("fast", Similarity.lshBucket(col("embedding"), K.Dim, 16))
      .withColumn("hof", Similarity.lshBucketHof(col("embedding"), K.Dim, 16))
      .filter(col("fast") =!= col("hof"))
    assert(cmp16.count() == 0)
  }

  test("maxSim: late-interaction fixture + empty-doc guard") {
    import spark.implicits._
    val q = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val docs = Seq(
      (0L, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))), // perfect: 1 + 1
      (1L, Seq(Seq(0.5, 0.5))), // 0.5 + 0.5
      (2L, Seq.empty[Seq[Double]])) // empty → 0.0
      .toDF("id", "vecs")
    val got = docs.withColumn("s", Similarity.maxSim(typedlit(q), col("vecs")))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(0L -> 2.0, 1L -> 1.0, 2L -> 0.0))
  }

  test("topK aggregate: ties break by smaller id, best-first order") {
    import spark.implicits._
    val df = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.5))
      .toDF("id", "score")
    val got = df.agg(TopKAgg.topK(col("score"), col("id"), 3).as("t"))
      .select(explode(col("t")).as("e")).select(col("e.id"), col("e.score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got == List((2L, 0.9), (3L, 0.9), (1L, 0.5)))
  }

  test("topK aggregate survives repartitioning (partial/merge path)") {
    import spark.implicits._
    val rows = (0L until 1000L).map(i => (i % 7, i, ((i * 37) % 101).toDouble))
    val df = rows.toDF("g", "id", "score")
    def run(parts: Int) =
      df.repartition(parts).groupBy(col("g"))
        .agg(TopKAgg.topK(col("score"), col("id"), 4).as("t"))
        .select(col("g"), col("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getDouble(1))).toList).toMap
    assert(run(1) == run(13))
  }

  test("annBucketKnn: multi-probe candidates = own + 1-flip buckets; salt is result-invariant") {
    val nPlanes = 6; val k = 3
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = edges(Similarity.annBucketKnn(
      e, "vec_id", "embedding", K.Dim, nPlanes, k, probes = nPlanes, salt = 1))
    // salt only re-shards the candidate side of the join — the (q, c)
    // pair set, and so the top-k result, must be bit-identical
    val salted = edges(Similarity.annBucketKnn(
      e, "vec_id", "embedding", K.Dim, nPlanes, k, probes = nPlanes, salt = 3))
    assert(probed == salted, "salt must be a pure parallelism knob")
    // reference formulation: window rank over the probe-expanded
    // candidate product, built from the SAME expressions so float
    // ordering matches bit-exactly
    val b = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      Similarity.lshBucket(col("embedding"), K.Dim, nPlanes).as("bucket"),
      Kernel.vecNorm(col("embedding")).as("cn"))
    val q0 = b.select(col("cid").as("qid"), col("cv").as("qv"),
      col("bucket"), col("cn").as("qn"))
    val qp = (0 until nPlanes).foldLeft(q0) { (acc, p) =>
      acc.unionByName(q0.withColumn("bucket", col("bucket").bitwiseXOR(lit(1L << p))))
    }
    val expected = edges(b.join(qp, "bucket")
      .withColumn("score", Kernel.cosinePre(col("cv"), col("qv"), col("cn"), col("qn")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rnk") <= k + 1 && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")))
    assert(probed == expected)
    // no-probe candidates are a subset relation at the BUCKET level:
    // with probes every query sees a superset of its own bucket, so a
    // query's no-probe candidate list can only be displaced by
    // higher-scoring probed candidates — sanity: probes found at least
    // one cross-bucket edge at this plane count, else the knob is moot
    val plain = edges(Similarity.annBucketKnn(
      e, "vec_id", "embedding", K.Dim, nPlanes, k, probes = 0, salt = 1))
    assert((probed -- plain).nonEmpty, "expected some cross-bucket recall gain")
  }

  test("nPlanesFor: smallest plane count with expected occupancy <= target") {
    import Similarity.nPlanesFor
    assert(nPlanesFor(0) == 0)
    assert(nPlanesFor(256) == 0) // fits one bucket already
    assert(nPlanesFor(257) == 1)
    assert(nPlanesFor(2000) == 3) // 2000/8 = 250 <= 256; 2000/4 > 256
    assert(nPlanesFor(20000) == 7)
    assert(nPlanesFor(20000, targetBucket = 64) == 9)
    // the invariant itself, over a sweep: occupancy bound holds and the
    // count is minimal (one fewer plane would violate the bound)
    for (n <- Seq(1L, 100L, 4096L, 123456L, 100000000000L); t <- Seq(64L, 256L, 1024L)) {
      val p = nPlanesFor(n, t)
      assert((n >> p) <= t, s"n=$n t=$t p=$p occupancy bound")
      assert(p == 0 || (n >> (p - 1)) > t, s"n=$n t=$t p=$p not minimal")
    }
    assert(nPlanesFor(Long.MaxValue, 1) == 62) // clamp: Long bitmask
  }

  test("ivfPqResidual: exact semantics — candidate set, ranking frame, invariance") {
    // queries outside both codebooks' source rows (raw book = ids 0..15,
    // residual book = ids 16..31) so no form holds a query verbatim
    val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val k = 5
    val base = Similarity.ivfPqResidual(q, "qid", "qv", e, "vec_id", "embedding",
        16, 4, 8, 16, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(base.nonEmpty)
    assert(base.forall(_._4 >= 0.0), "ADC distance is a sum of squares")
    // same coarse quantizer → residual and raw rank over the SAME
    // candidate pool (probed cells are encoding-independent); with k ≥
    // pool they return identical id sets, so any recall difference is
    // purely PQ ordering, never probing
    val bigK = 500
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => (qq, rs.map(_.getLong(1)).toSet) }
    val rawPool = ids(Similarity.ivfPq(q, "qid", "qv", e, "vec_id", "embedding",
      16, 4, 8, 16, bigK))
    val resPool = ids(Similarity.ivfPqResidual(q, "qid", "qv", e, "vec_id", "embedding",
      16, 4, 8, 16, bigK))
    assert(rawPool == resPool, "the candidate pool must be encoding-independent")
    // the result depends only on values, never on row placement
    val rep = Similarity.ivfPqResidual(q, "qid", "qv", e.repartition(13),
        "vec_id", "embedding", 16, 4, 8, 16, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(rep == base)
  }

  test("probesFor: half the planes, clamp-compatible, monotone") {
    import Similarity.probesFor
    assert(probesFor(0) == 0)   // small corpus: 0 planes, nothing to probe
    assert(probesFor(1) == 0)
    assert(probesFor(4) == 2)
    assert(probesFor(10) == 5)  // the sf10 auto-sized plane count
    for (p <- 0 to 62) assert(probesFor(p) <= p, s"probes must fit annBucketKnn's [0, nPlanes] bound at $p")
    val xs = (0 to 62).map(probesFor)
    assert(xs == xs.sorted, "probe budget must not shrink as planes grow")
  }

  test("semanticClustersAnn: 0 planes == brute graph, edges and labels") {
    // a corpus that fits one bucket (n <= 256 -> 0 planes): the 0-plane
    // ANN candidate edges must be the full brute top-k relation
    val small = e.filter(col("vec_id") < 200)
    assert(Similarity.nPlanesFor(small.count()) == 0)
    val annEdges = Similarity.annBucketKnn(small, "vec_id", "embedding", K.Dim, 0, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = small.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.knnJoin(q, "qid", "qv", small, "vec_id", "embedding", 4)
      .filter(col("qid") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annEdges == brute)
    // and so the one pipeline labels both sources identically
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annLabels = labels(Similarity.semanticClustersAnn(small, "vec_id", "embedding",
      K.Dim, nPlanes = 0, k = 3, iterations = 8))
    assert(annLabels.nonEmpty)
    assert(annLabels == labels(Similarity.semanticClusters(small, "vec_id", "embedding",
      3, iterations = 8)))
  }

  test("annBucketKnn salt-invariance at 10x scale (testdata_sf1, skew-relevant buckets)") {
    // Salt only matters under bucket skew, and sf0.001 buckets are tiny;
    // re-assert the invariance where buckets are ~150 rows. Runs only
    // when the (gitignored) scale corpus has been generated.
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("testdata_sf1/embeddings.parquet")),
      "testdata_sf1 not generated")
    val big = spark.read.parquet("testdata_sf1/embeddings.parquet")
    val n = big.count()
    val nPlanes = Similarity.nPlanesFor(n) // 20k rows -> 7 planes
    def edges(salt: Int) = Similarity.annBucketKnn(
      big, "vec_id", "embedding", K.Dim, nPlanes, k = 3, probes = 2, salt = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = edges(1)
    val salted = edges(4)
    assert(plain.nonEmpty)
    assert(plain == salted, "salt must stay a pure parallelism knob at scale")
  }

  test("degenerate inputs: empty, single vector and k >= n, every source") {
    type Labels = Either[IllegalArgumentException, Map[Long, Long]]
    def run(labels: => org.apache.spark.sql.DataFrame): Labels =
      try Right(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      catch { case ex: IllegalArgumentException => Left(ex) }
    def indexed(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val path = java.nio.file.Files.createTempDirectory("graft_sim_degenerate").toString
      VectorIndex.writeIvfPq(df, "vec_id", "embedding", nCells = 2, m = 8, nCentsPq = 16,
        path = path, storeVectors = true)
      VectorIndex.semanticClustersIndexed(spark, VectorIndex.load(spark, path),
        nProbe = 2, k = k, iterations = 8, overfetch = 8)
    }
    val sources = Seq[(String, (org.apache.spark.sql.DataFrame, Int) => Labels)](
      "brute" -> ((df, k) => run(Similarity.semanticClusters(df, "vec_id", "embedding", k, 8))),
      "bucket0" -> ((df, k) => run(Similarity.semanticClustersAnn(df, "vec_id", "embedding",
        K.Dim, nPlanes = 0, k = k, iterations = 8))),
      "bucket4" -> ((df, k) => run(Similarity.semanticClustersAnn(df, "vec_id", "embedding",
        K.Dim, nPlanes = 4, k = k, iterations = 8))),
      "indexed" -> ((df, k) => run(indexed(df, k))))
    val five = e.filter(col("vec_id") < 5)
    val inputs = Seq(
      ("empty", e.filter(lit(false)), 3, Set.empty[Long]),
      ("single", e.filter(col("vec_id") === 0), 3, Set(0L)),
      ("k >= n", five, 8, (0L until 5L).toSet))
    for ((input, df, k, ids) <- inputs; (source, cluster) <- sources) {
      val what = s"$source on $input"
      cluster(df, k) match {
        case Right(labels) =>
          // a labeling: known ids, each cluster named by its min member
          assert(labels.keySet.subsetOf(ids), what)
          labels.groupBy(_._2).foreach { case (c, members) =>
            assert(members.keys.min == c, s"$what: cluster $c not labeled by its min id") }
          // no mutual edge below two vectors; every exact source joins all
          // of a corpus no larger than k into one cluster
          if (ids.size < 2) assert(labels.isEmpty, what)
          if (input == "k >= n" && source != "bucket4")
            assert(labels == ids.map(_ -> 0L).toMap, what)
        case Left(ex) =>
          // only an index build may refuse, and only a corpus too small
          // to hold its first-k quantizers — naming the corpus
          assert(source == "indexed" && ids.size < 2 && ex.getMessage.contains("corpus"),
            s"$what: ${ex.getMessage}")
      }
    }
  }
}
