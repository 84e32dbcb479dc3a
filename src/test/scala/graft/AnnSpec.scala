package graft

import graft.ann.Ann

class AnnSpec extends SparkSpecBase {
  import spark.implicits._

  /** The cached frames `df`'s plan reads. */
  private def cachedFrames(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.withCachedData.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }

  // 8 vectors in 4-d: ids 0-1 are queries; 2-3 near query 0, 4-5 near
  // query 1, 6-7 orthogonal noise
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
    (3L, Array(0.8f, 0.0f, 0.1f, 0.0f), 0),
    (4L, Array(0.1f, 0.9f, 0.0f, 0.0f), 1),
    (5L, Array(0.0f, 0.8f, 0.0f, 0.1f), 1),
    (6L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2),
    (7L, Array(0.0f, 0.0f, 0.0f, 1.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("knnBrute returns nearest neighbours in similarity order") {
    val out = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
    val q0 = out.filter(_.getLong(0) == 0L).map(_.getLong(1)).toSeq
    val q1 = out.filter(_.getLong(0) == 1L).map(_.getLong(1)).toSeq
    assert(q0 == Seq(2L, 3L))
    assert(q1 == Seq(4L, 5L))
    assert(out.forall(r => r.getDouble(2) > 0.85))
  }

  test("rangeSearch returns exactly the corpus vectors above the cosine radius") {
    // τ=0.5: for query 0 (x-axis) → vectors 2, 3; for query 1 (y-axis) → 4, 5
    val out = Ann.rangeSearch(vecs, nQueries = 2, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 2L), (0L, 3L), (1L, 4L), (1L, 5L)), s"got ${out.toSeq}")
    assert(out.forall(_._3 >= 0.5))
    // tightening the radius past the planted similarities empties it
    assert(Ann.rangeSearch(vecs, nQueries = 2, tau = 0.999).collect().isEmpty)
  }

  test("knnLsh candidates are a subset ranked identically, decent recall") {
    val brute = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.knnLsh(vecs, nQueries = 2, k = 2, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute) || lsh.nonEmpty) // candidates bucket-limited
    val recall = (lsh intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("ivfKnn achieves full recall on tightly clustered data (label-centroid twin)") {
    val brute = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfKnn(vecs, nQueries = 2, k = 2,
      centroids = Some(Ann.labelCentroids(vecs))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  // 4 planted clusters of 10 vectors around orthogonal axes, NO label
  // column — the corpus shape a real training set has. Ground truth =
  // the same knnJoin machinery over a single all-covering cell (the
  // cell-local join degenerates to the exact full self-join).
  private def unlabeled = {
    val rows = for {
      c <- 0 until 4
      j <- 0 until 10
    } yield {
      val v = Array.fill(4)(0.0f)
      v(c) = 1.0f
      v((c + 1) % 4) = 0.02f * j // deterministic within-cluster spread
      ((c * 10 + j).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("knnJoin over sample-trained k-means cells: recall vs exact on unlabeled clusters") {
    val oneCell = Seq((1, Array(1.0f, 1.0f, 1.0f, 1.0f))).toDF("c_label", "centroid")
    val exact = Ann.knnJoin(unlabeled, k = 3, nprobe = 1,
      centroids = Some(oneCell)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cells=0 → auto ~sqrt(40) ≈ 6 k-means cells, trained without labels
    val kmeans = Ann.knnJoin(unlabeled, k = 3, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (kmeans intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"k-means-cell knnJoin recall $recall too low")
  }

  test("distributed-update Lloyd trains cells that keep knnJoin recall on unlabeled clusters") {
    val oneCell = Seq((1, Array(1.0f, 1.0f, 1.0f, 1.0f))).toDF("c_label", "centroid")
    val exact = Ann.knnJoin(unlabeled, k = 3, nprobe = 1,
      centroids = Some(oneCell)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Ann.kmeansCentroidsDistributed(unlabeled, k = 4, iters = 2)
    val viaDist = Ann.knnJoin(unlabeled, k = 3, nprobe = 2,
      centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (viaDist intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"distributed-Lloyd-cell knnJoin recall $recall too low")
  }

  test("ivfKnn default (unlabeled k-means cells) matches brute on planted clusters") {
    val brute = Ann.knnBrute(unlabeled, nQueries = 2, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfKnn(unlabeled, nQueries = 2, k = 3, nprobe = 2, cells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"unlabeled ivf recall $recall too low")
  }

  test("ivfKnn nprobe=2 recovers the boundary query that nprobe=1 loses") {
    // query 0 sits BETWEEN cluster 0 (e1) and cluster 1 (e2), leaning
    // slightly to e1: its nearest cell is 0, but true neighbour 4 (pure
    // e2 direction, cos ~0.74) lives in cell 1 — invisible at nprobe=1
    val boundary = Seq(
      (0L, Array(0.74f, 0.67f, 0.0f, 0.0f), 0), // boundary query
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.95f, 0.05f, 0.0f, 0.0f), 0),
      (4L, Array(0.05f, 1.0f, 0.0f, 0.0f), 1),
      (5L, Array(0.0f, 0.95f, 0.05f, 0.0f), 1),
      (6L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2),
      (7L, Array(0.0f, 0.0f, 0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    def recallVsBrute(nprobe: Int): Double = {
      val brute = Ann.knnBrute(boundary, nQueries = 1, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivf = Ann.ivfKnn(boundary, nQueries = 1, k = 3, nprobe = nprobe,
        centroids = Some(Ann.labelCentroids(boundary))).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf intersect brute).size.toDouble / brute.size
    }
    val r1 = recallVsBrute(1)
    val r2 = recallVsBrute(2)
    assert(r1 < 1.0, s"nprobe=1 recall unexpectedly full: $r1")
    assert(r2 == 1.0, s"nprobe=2 recall $r2")
    assert(r2 >= r1)
  }

  test("pqKnn exact-reranks to brute-force results on the toy set and real embeddings") {
    // toy set: with a generous shortlist the exact re-rank must equal
    // brute force outright
    val brute = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.pqKnn(vecs, nQueries = 2, k = 2, m = 2, ksub = 4,
      trainSample = 8, rerank = 6, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == brute, s"pq=$pq brute=$brute")
    // sf0.001 embeddings: the ADC shortlist + re-rank must keep solid
    // recall@3 vs exact brute force
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = Ann.pqKnn(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (p intersect b).size.toDouble / b.size
    assert(recall >= 0.5, s"pq recall@3 $recall too low")
  }

  test("sq8Knn matches brute force on the toy set and keeps high recall on real embeddings") {
    // generous shortlist → the exact re-rank must equal brute outright
    val brute = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Ann.sq8Knn(vecs, nQueries = 2, k = 2, rerank = 6, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq == brute, s"sq8=$sq brute=$brute")
    // 8-bit affine quantization distorts far less than PQ's m-code
    // compression: recall@3 vs exact brute force must be near-perfect
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = Ann.sq8Knn(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (s intersect b).size.toDouble / b.size
    assert(recall >= 0.9, s"sq8 recall@3 $recall too low")
  }

  test("bqKnn matches brute force under a generous shortlist and keeps recall on real embeddings") {
    // rerank covers the whole toy corpus → the exact re-rank must
    // equal brute outright regardless of Hamming shortlist order
    val brute = Ann.knnBrute(vecs, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bq = Ann.bqKnn(vecs, nQueries = 2, k = 2, rerank = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bq == brute, s"bq=$bq brute=$brute")
    // real embeddings: the 1-bit codec is the coarsest in the ladder,
    // but the generous default shortlist must still keep recall@3 high
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = Ann.bqKnn(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (s intersect b).size.toDouble / b.size
    assert(recall >= 0.8, s"bq recall@3 $recall too low")
  }

  test("signbits/hamming codec: packed sign patterns and the popcount kernel are exact") {
    // 10-dim vector: dims 0,2,8 positive → bytes (00000101, 00000001)
    val code = graft.functions.SignBits.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(1f, -1f, 0.5f, 0f, -2f, 0f, 0f, -0.1f, 3f, 0f)))
    assert(code.toSeq == Seq(0x05.toByte, 0x01.toByte), s"got ${code.toSeq}")
    // hamming: 0 to itself; exact bit count vs a flipped pattern
    assert(graft.functions.HammingDistance.compute(code, code) == 0)
    assert(graft.functions.HammingDistance.compute(
      Array(0x05.toByte, 0x01.toByte), Array(0x06.toByte, 0x00.toByte)) == 3)
    // unequal lengths: the longer tail's set bits all count
    assert(graft.functions.HammingDistance.compute(
      Array(0x05.toByte), Array(0x05.toByte, 0x0F.toByte)) == 4)
  }

  test("sq8 encode/cosine round-trip keeps quantized similarity within codec distortion") {
    // directly pin the codec: encoded+dequantized cosine of a vector
    // against ITSELF must stay ≈1 (distortion ≤ half a code step per dim)
    val lo = Array(0.0f, 0.0f, 0.0f, 0.0f)
    val scale = Array(1f / 255f, 1f / 255f, 1f / 255f, 0f) // dim 3 constant
    val v = Array(0.3f, 0.7f, 0.25f, 0.0f)
    val codes = graft.functions.Sq8Encode.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), lo, scale)
    assert(codes.length == 4 && codes(3) == 0) // zero-scale dim encodes 0
    val sim = graft.functions.Sq8Cosine.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), codes, lo, scale)
    assert(sim > 0.9999, s"self-similarity through the codec: $sim")
  }

  test("ivfSq8Knn reproduces ivfKnn under a generous rerank — pruning from cells, fidelity from SQ8") {
    // toy set with label centroids: the SQ8 shortlist covers every cell
    // candidate, so the exact re-rank must equal the float IVF search
    val cents = Ann.labelCentroids(vecs)
    val ivf = Ann.ivfKnn(vecs, nQueries = 2, k = 2, centroids = Some(cents)).collect().toSeq
    val sq = Ann.ivfSq8Knn(vecs, nQueries = 2, k = 2, rerank = 8,
      centroids = Some(cents), dim = 4).collect().toSeq
    assert(sq == ivf, s"sq8=$sq ivf=$ivf")
    // real embeddings, default knobs: same equality (rerank 50 covers
    // the probed cells at sf0.001), so the composition loses nothing
    // beyond a04's own nprobe trade
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c2 = Ann.labelCentroids(emb)
    val i2 = Ann.ivfKnn(emb, centroids = Some(c2)).collect().toSeq
    val s2 = Ann.ivfSq8Knn(emb, centroids = Some(c2)).collect().toSeq
    assert(s2 == i2, "IVF-SQ8 diverged from float IVF under a covering rerank")
  }

  test("SQ8 saved index: probe agrees with float IVF, prunes to probed cells, appends with saved ranges") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 10
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_idx").toString
    Ann.writeAnnIndexSq8(emb.filter(emb("vec_id") >= nQ), cents, dir)
    val queries = emb.filter(emb("vec_id") < nQ)
    val probeDf = Ann.ivfSq8KnnIndexed(queries, dir)
    // routed on the driver: no cached query frame
    assert(cachedFrames(probeDf).isEmpty)
    val probe = probeDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // codec distortion is near-lossless: neighbor sets agree with the
    // float IVF search under the same centroids
    val fl = Ann.ivfKnn(emb, nQueries = nQ, centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probe intersect fl).size.toDouble / fl.size
    assert(recall >= 0.9, s"SQ8-at-rest recall $recall vs float IVF")
    // the codes read is cell-pruned (the a15 pin on the codes/ scan)
    val scans = probeDf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "probed labels must prune the codes directories")
    // append encodes with the SAVED ranges: planted copies of the
    // queries land as each query's top-1 at quantized cos ≈ 1
    Ann.appendAnnIndexSq8(
      queries.select((queries("vec_id") + 1000000L).as("vec_id"), queries("embedding")), dir)
    val after = Ann.ivfSq8KnnIndexed(queries, dir).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for (qid <- 0L until nQ.toLong) {
      val (nid, sim) = after(qid)
      assert(nid == qid + 1000000L && sim >= 0.99,
        s"query $qid: appended copy not top-1 (got $nid at $sim)")
    }
    graft.Caches.release()
  }

  test("BQ index at rest: codes-hot/floats-cold probe recall, pruned scan, drift-free append") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 10
    val dir = java.nio.file.Files.createTempDirectory("graft_bq_idx").toString
    Ann.writeAnnIndexBq(emb.filter(emb("vec_id") >= nQ), cents, dir)
    // no meta/ directory exists: the codec is data-independent
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "meta")),
      "BQ index must not persist trained state — there is none")
    val queries = emb.filter(emb("vec_id") < nQ)
    val probeDf = Ann.ivfBqKnnIndexed(queries, dir, emb)
    // routed on the driver: no cached query frame
    assert(cachedFrames(probeDf).isEmpty)
    val probe = probeDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact float re-rank over the Hamming shortlist keeps
    // agreement with the float IVF search under the same centroids
    val fl = Ann.ivfKnn(emb, nQueries = nQ, centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probe intersect fl).size.toDouble / fl.size
    assert(recall >= 0.8, s"BQ-at-rest recall $recall vs float IVF")
    // the codes read is cell-pruned (the a15 pin on the codes/ scan)
    val scans = probeDf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "probed labels must prune the codes directories")
    // append needs no saved codec state: planted copies of the queries
    // land as each query's exact-reranked top-1 at cos 1
    val twins = queries.select((queries("vec_id") + 1000000L).as("vec_id"),
      queries("embedding"))
    Ann.appendAnnIndexBq(twins, dir)
    val floatsWithTwins = emb.unionByName(twins.withColumn("label",
      org.apache.spark.sql.functions.lit(-1)))
    val after = Ann.ivfBqKnnIndexed(queries, dir, floatsWithTwins).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for (qid <- 0L until nQ.toLong) {
      val (nid, sim) = after(qid)
      assert(nid == qid + 1000000L && sim >= 0.9999,
        s"query $qid: appended twin not top-1 (got $nid at $sim)")
    }
    graft.Caches.release()
  }

  test("PQ index at rest: probed ADC recall vs float IVF, pruned codes scan, saved-codebook append") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 10
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Ann.writeAnnIndexPq(emb.filter(emb("vec_id") >= nQ), cents, dir)
    val queries = emb.filter(emb("vec_id") < nQ)
    val probeDf = Ann.ivfPqKnnIndexed(queries, dir)
    // routed on the driver: no cached query frame
    assert(cachedFrames(probeDf).isEmpty)
    val probe = probeDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the ADC-only a08 distortion regime: agreement with the float IVF
    // search under the same centroids stays in the PQ class bound
    val fl = Ann.ivfKnn(emb, nQueries = nQ, centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probe intersect fl).size.toDouble / fl.size
    assert(recall >= 0.5, s"PQ-at-rest recall $recall vs float IVF")
    // determinism: a second probe reproduces the pages exactly
    assert(Ann.ivfPqKnnIndexed(queries, dir).collect().toSeq ==
      probeDf.collect().toSeq)
    // the codes read is cell-pruned (the a15 pin on the codes/ scan)
    val scans = probeDf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "probed labels must prune the codes directories")
    // append encodes with the SAVED codebook: planted copies of the
    // queries encode to identical codes, so each lands in its query's
    // top-k with the query's own quantization score
    Ann.appendAnnIndexPq(
      queries.select((queries("vec_id") + 1000000L).as("vec_id"), queries("embedding")), dir)
    val after = Ann.ivfPqKnnIndexed(queries, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (qid <- 0L until nQ.toLong)
      assert(after.contains((qid, qid + 1000000L)),
        s"query $qid: appended identical-code twin missing from top-k")
    graft.Caches.release()
  }

  test("ivfKnnIndexed reproduces ivfKnn from the saved index, reading only probed cells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 10
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= nQ), cents, dir)
    val live = Ann.ivfKnn(emb, nQueries = nQ, centroids = Some(cents)).collect()
    val probe = Ann.ivfKnnIndexed(emb.filter(emb("vec_id") < nQ), dir)
    assert(probe.collect().toSeq == live.toSeq,
      "saved-index probe must be result-identical to the live IVF search")
    // the vectors read is cell-pruned: the isin over probed labels
    // must reach the scan as a PARTITION filter (directory pruning),
    // and prune to at most the probed-label count
    val vecScans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("vectors")) => f
    }
    assert(vecScans.nonEmpty, "vectors scan missing")
    assert(vecScans.forall(_.partitionFilters.nonEmpty),
      "probed-cell isin must prune partitions, not filter rows")
    val nProbedCells = vecScans.map(_.selectedPartitions.partitionCount).sum
    assert(nProbedCells <= nQ * 2, s"read $nProbedCells cells for $nQ queries x nprobe=2")
  }

  test("appendAnnIndex folds a batch into the saved cells; probes retrieve it at cos 1.0") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 5
    val queries = emb.filter(emb("vec_id") < nQ)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_append").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= nQ), cents, dir)
    // append exact copies of the queries under fresh ids: each must
    // surface as its twin's top neighbour at cosine 1.0
    Ann.appendAnnIndex(
      queries.select((queries("vec_id") + 1000000L).as("vec_id"), queries("embedding")), dir)
    val top = Ann.ivfKnnIndexed(queries, dir, k = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until nQ).foreach { qid =>
      assert(top(qid) == ((qid + 1000000L, 1.0)),
        s"query $qid: appended twin not retrieved, got ${top(qid)}")
    }
  }

  test("optimizeIndex compacts appended ANN cells; probe identical, pruning intact") {
    import scala.jdk.CollectionConverters._
    def parquetByDir(root: String): Map[String, Int] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.toString).map { case (k, v) => k -> v.size }
      finally s.close()
    }
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nQ = 5
    val queries = emb.filter(emb("vec_id") < nQ)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_opt").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= nQ), cents, dir)
    // ten trigger appends decay the per-cell layouts
    (0 until 10).foreach { i =>
      Ann.appendAnnIndex(queries.select(
        (queries("vec_id") + 1000000L * (i + 1)).as("vec_id"),
        queries("embedding")), dir)
    }
    val before = Ann.ivfKnnIndexed(queries, dir, k = 3).collect().toSeq
    assert(parquetByDir(dir + "/vectors").values.max >= 10,
      "appends must have accumulated per-cell files")
    val rewritten = graft.sources.Sources.optimizeIndex(spark, dir,
      targetFileBytes = 1L << 30)
    assert(rewritten > 0)
    assert(parquetByDir(dir + "/vectors").values.max == 1,
      s"every cell must compact to its sized count")
    val probe = Ann.ivfKnnIndexed(queries, dir, k = 3)
    assert(probe.collect().toSeq == before,
      "probe must be result-identical across compaction")
    // compaction must not cost the probe its directory pruning
    val vecScans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("vectors")) => f
    }
    assert(vecScans.nonEmpty && vecScans.forall(_.partitionFilters.nonEmpty),
      "probed-cell isin must still prune partitions after compaction")
  }

  test("ivfPqKnn composes k-means cells with PQ re-rank at bounded recall") {
    // real embeddings: the cell-restricted ADC scan + exact re-rank must
    // keep solid recall@3 vs exact brute force (the a08 bound, now with
    // the a05 cells also pruning candidates)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cells ~ the corpus's natural cluster count (5 labeled clusters at
    // this SF); nprobe=3 keeps the probe fan-out < the cell count
    val p = Ann.ivfPqKnn(emb, cells = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (p intersect b).size.toDouble / b.size
    assert(recall >= 0.5, s"ivf-pq recall@3 $recall too low")
    // the composition must never beat its own PQ ceiling: candidates are
    // a subset of a08's, so any pair found is also PQ-scorable
    assert(p.size == b.size, "ivf-pq must still return k results per query")
  }

  test("residual-trained IVF-PQ (by_residual=true) keeps bounded recall vs brute") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = Ann.ivfPqKnnResidual(emb, cells = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (p intersect b).size.toDouble / b.size
    assert(recall >= 0.5, s"residual ivf-pq recall@3 $recall too low")
    assert(p.size == b.size, "residual ivf-pq must return k results per query")
  }

  test("recallEval reports a planted recall exactly and scores the shipped variants") {
    import org.apache.spark.sql.functions.{col, when}
    // planted: exact top-2 with query 0's second neighbour swapped for
    // a wrong id → recall(q0)=1/2, recall(q1)=1, mean=0.75
    val exact = Ann.knnBrute(vecs, nQueries = 2, k = 2)
      .select(col("query_id"), col("neighbor_id"))
    val planted = exact.withColumn("neighbor_id",
      when(col("query_id") === 0L && col("neighbor_id") === 3L, 99L)
        .otherwise(col("neighbor_id")))
    val out = Ann.recallEval(vecs, nQueries = 2, k = 2, approx = Some(planted))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0L) == ((1L, 0.5, 0.75)), s"got ${out(0L)}")
    assert(out(1L) == ((2L, 1.0, 0.75)), s"got ${out(1L)}")
    // integration: the lsh variant on real embeddings yields a full
    // per-query report with recalls in [0,1]
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rep = Ann.recallEval(emb, variant = "lsh").collect()
    assert(rep.length == 10)
    assert(rep.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  // 240 vectors in 6-d planted along three orthogonal non-axis
  // directions with variances ~100 : 9 : 1 (LCG coefficients in
  // [-1,1], mean ~0) — the anisotropy PCA must recover
  private def planted6d = {
    val dirs = Seq(
      (10.0, Array(1.0, 1.0, 0.0, 0.0, 0.0, 0.0).map(_ / math.sqrt(2))),
      (3.0, Array(0.0, 0.0, 1.0, 1.0, 0.0, 0.0).map(_ / math.sqrt(2))),
      (1.0, Array(0.0, 0.0, 0.0, 0.0, 1.0, 1.0).map(_ / math.sqrt(2))))
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    val rows = (0 until 240).map { i =>
      var s = lcg(i.toLong + 17)
      val v = Array.fill(6)(0.0)
      dirs.foreach { case (sigma, u) =>
        s = lcg(s)
        val a = (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
        var p = 0
        while (p < 6) { v(p) += sigma * a * u(p); p += 1 }
      }
      (i.toLong, v.map(_.toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pcaReduce recovers the planted variance directions; basis orthonormal") {
    val rep = Ann.pcaReduce(planted6d, k = 3).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rep.length == 3)
    // dominant direction carries ~100/110 of the variance
    assert(rep(0)._3 > 0.8, s"pc1 explained ${rep(0)._3}")
    // explained fractions non-increasing, cumulative bounded by 1
    assert(rep.sliding(2).forall(w => w(0)._3 >= w(1)._3 - 1e-9))
    assert(rep.last._4 <= 1.0001 && rep.last._4 > 0.99) // 3 dirs = all variance
    assert(rep.forall(_._2 >= 0.0))

    val m = Ann.pcaTrain(planted6d, 3)
    def row(j: Int): Array[Double] =
      Array.tabulate(6)(i => m.comps(j * 6 + i).toDouble)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val u1 = Array(1.0, 1.0, 0.0, 0.0, 0.0, 0.0).map(_ / math.sqrt(2))
    val u2 = Array(0.0, 0.0, 1.0, 1.0, 0.0, 0.0).map(_ / math.sqrt(2))
    assert(math.abs(dot(row(0), u1)) > 0.99, s"pc1 misaligned: ${row(0).toSeq}")
    assert(math.abs(dot(row(1), u2)) > 0.99, s"pc2 misaligned: ${row(1).toSeq}")
    for (a <- 0 until 3; b <- 0 until 3)
      assert(math.abs(dot(row(a), row(b)) - (if (a == b) 1.0 else 0.0)) < 1e-4,
        s"basis not orthonormal at ($a,$b)")
  }

  test("pcaProject at full rank preserves pairwise distances; pca recall variant high") {
    val proj = Ann.pcaProject(planted6d, k = 6).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(proj.values.forall(_.length == 6))
    val orig = planted6d.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // a full-rank orthonormal projection is a rotation of the centered
    // data — pairwise distances survive exactly (up to float casts)
    for (pair <- Seq((0L, 1L), (5L, 100L), (42L, 239L))) {
      val (x, y) = pair
      val d0 = dist(orig(x), orig(y)); val d1 = dist(proj(x), proj(y))
      assert(math.abs(d0 - d1) <= 1e-2 * math.max(d0, 1.0), s"pair $pair: $d0 vs $d1")
    }
    // reduced-space brute search vs float brute: the variant's default
    // k=8 caps at d=6 (full rank) and the planted mean is ~0, so the
    // centered rotation barely moves the cosine ordering
    val rec = Ann.recallEval(planted6d, variant = "pca", nQueries = 5, k = 3)
      .collect()
    assert(rec.forall(r => r.getDouble(3) >= 0.7), // mean_recall column
      s"pca mean recall ${rec.headOption.map(_.getDouble(3))}")
  }

  test("pcaKnn: exhaustive shortlist equals brute exactly; tight shortlist keeps recall") {
    // rerank >= corpus: the reduced-space scan only ORDERS the
    // shortlist, exact rerank then reproduces a01 row for row
    val brute = Ann.knnBrute(planted6d, nQueries = 5, k = 3).collect().toSeq
    val exhaustive = Ann.pcaKnn(planted6d, nQueries = 5, k = 3,
      pcaK = 3, rerank = 300).collect().toSeq
    assert(exhaustive == brute, s"exhaustive pcaKnn must equal brute")
    // the deployment shape: 3-of-6 dims (99.5% variance), 20-deep
    // shortlist — planted anisotropy keeps the true neighbours inside
    val tight = Ann.pcaKnn(planted6d, nQueries = 5, k = 3,
      pcaK = 3, rerank = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (tight intersect bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.8, s"pca shortlist recall $recall")
  }

  test("ivfAppend: appended batch is retrieved at full-rebuild recall, growth flagged") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val existing = emb.filter(col("vec_id") % 5 =!= 0)
    // retrieval equivalence: searching the combined corpus through the
    // EXISTING-trained quantizer (the append path) keeps the same
    // recall vs brute as a full retrain on the combined corpus
    val brute = Ann.knnBrute(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cells ~ the corpus's natural cluster count, nprobe=3: the a09
    // spec's parameterization, where IVF recall is meaningful at this SF
    def recall(cents: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = Ann.ivfKnn(emb, nprobe = 3, centroids = cents, cells = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val appendRecall = recall(Some(Ann.kmeansCentroids(existing, k = 5)))
    val rebuildRecall = recall(None) // retrains 5 cells on the combined corpus
    assert(appendRecall >= rebuildRecall - 0.1,
      s"append-path recall $appendRecall vs rebuild $rebuildRecall")
    assert(appendRecall >= 0.5, s"append-path recall $appendRecall too low")
    // growth report: hand-planted skew — existing spread over clusters,
    // batch all landing in ONE cell → that cell flags needs_split
    val existing2 = vecs.drop("label")
    val batch2 = Seq(
      (10L, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.0f, 0.05f, 0.0f)),
      (12L, Array(0.85f, 0.1f, 0.0f, 0.05f)),
      (13L, Array(0.92f, 0.0f, 0.0f, 0.08f))
    ).toDF("vec_id", "embedding")
    val stats = Ann.ivfAppend(existing2, batch2,
      centroids = Some(Ann.kmeansCentroids(existing2, k = 3)), balanceFactor = 1.5)
      .collect().map(r =>
        r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(5))).toMap
    assert(stats.values.map(_._1).sum == 8L, "existing occupancy must cover the corpus")
    assert(stats.values.map(_._2).sum == 4L, "every batch vector must land in a cell")
    val hot = stats.values.filter(_._2 == 4L)
    assert(hot.size == 1, s"batch must land in one cell, got $stats")
    assert(hot.head._4, "the hot cell must flag needs_split")
    assert(stats.values.count(_._4) == 1, "only the hot cell flags")
  }

  test("cellSplit separates merged planted clusters and leaves cold cells untouched") {
    // corpus: 2 x-axis vectors + 5 y-axis + 5 z-axis
    val rows =
      (0 until 2).map(j => ((10 + j).toLong, Array(1.0f, 0.02f * j, 0.0f, 0.0f))) ++
        (0 until 5).map(j => ((20 + j).toLong, Array(0.0f, 1.0f, 0.02f * j, 0.0f))) ++
        (0 until 5).map(j => ((30 + j).toLong, Array(0.0f, 0.02f * j, 1.0f, 0.0f)))
    val corpus = rows.toDF("vec_id", "embedding")
    // a 2-cell quantizer whose second cell covers BOTH the y and z
    // clusters — the merged-cluster drift a14 exists to repair
    val cents = Seq(
      (1, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2, Array(0.0f, 0.7f, 0.7f, 0.0f))).toDF("c_label", "centroid")
    val splitDf = Ann.cellSplit(corpus, centroids = Some(cents), balanceFactor = 1.5)
    val out = splitDf.collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1, 2, 3), s"got ${out.keySet}")
    assert(out(1) == ((1, false, 2L)), "cold cell 1 must be untouched")
    assert(out(2) == ((2, true, 5L)), s"sub 1 keeps the parent label, got ${out(2)}")
    assert(out(3) == ((2, true, 5L)), s"sub 2 gets max+1, got ${out(3)}")
    // the output IS a valid quantizer: with each planted cluster now
    // owning a cell, cell-local nprobe=1 search through it is exact
    val oneCell = Seq((1, Array(1.0f, 1.0f, 1.0f, 0.0f))).toDF("c_label", "centroid")
    val exact = Ann.knnJoin(corpus, k = 1, nprobe = 1, centroids = Some(oneCell))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSplit = Ann.knnJoin(corpus, k = 1, nprobe = 1,
      centroids = Some(splitDf.select("c_label", "centroid")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSplit == exact, s"split-table search $viaSplit != exact $exact")
  }

  test("cellSplit falls back unsplit when a flagged cell's members collapse") {
    // 6 IDENTICAL vectors overload cell 2 (mean 3.5, factor 1.5 → 5.25)
    // but give 2-means nothing to separate — the cell must stay whole
    val corpus = ((0 until 6).map(j => (j.toLong, Array(0.0f, 1.0f, 0.0f, 0.0f))) ++
      Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f)))).toDF("vec_id", "embedding")
    val cents = Seq(
      (1, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("c_label", "centroid")
    val out = Ann.cellSplit(corpus, centroids = Some(cents), balanceFactor = 1.5)
      .collect().map(r => r.getInt(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1, 2), s"got ${out.keySet}")
    assert(out(1) == ((false, 1L)))
    assert(out(2) == ((false, 6L)), s"collapsed cell must stay unsplit, got ${out(2)}")
  }

  test("knnClassify votes the planted cluster's label with deterministic ties") {
    // queries 0 (x-axis, label 0) and 1 (y-axis, label 1): with k=2
    // their neighbours are exactly their own cluster → unanimous vote
    val out = Ann.knnClassify(vecs, nQueries = 2, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(0L) == ((0, 2L, true)), s"got ${out(0L)}")
    assert(out(1L) == ((1, 2L, true)), s"got ${out(1L)}")
    // injected neighbor table with a 1-1 label tie → smallest label wins
    import org.apache.spark.sql.functions.col
    val tied = Seq((0L, 2L), (0L, 4L)).toDF("query_id", "neighbor_id")
    val t = Ann.knnClassify(vecs, nQueries = 1, k = 2, neighbors = Some(tied))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t(0L) == 0, s"tie must break to the smallest label, got ${t(0L)}")
  }

  test("kmeansAssign separates orthogonal clusters into distinct cells") {
    val out = Ann.kmeansAssign(vecs, k = 3, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // vectors near e1 (0,2,3), near e2 (1,4,5) must land in coherent cells
    assert(out(0L) == out(2L) && out(0L) == out(3L))
    assert(out(1L) == out(4L) && out(1L) == out(5L))
    assert(out(0L) != out(1L))
  }

  test("outlierScore flags the vector far from every centroid") {
    // 8th vector sits diagonal to all three label clusters -> low sim
    val withOutlier = vecs.union(Seq(
      (8L, Array(0.5f, -0.5f, 0.5f, -0.5f), 0)).toDF("vec_id", "embedding", "label"))
    val out = Ann.outlierScore(withOutlier, simThreshold = 0.8).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(8L)._2, s"planted outlier not flagged: ${out(8L)}")
    assert(out(2L)._1 > 0.9 && !out(2L)._2)
    // unlabeled corpus: k-means centroids trained on the clean corpus
    // drive the same scoring (training WITH the outlier can absorb it
    // as a seed — correct k-means behavior, wrong reference set)
    val unl = Ann.outlierScore(withOutlier.drop("label"), simThreshold = 0.8,
      centroids = Some(Ann.kmeansCentroids(vecs.drop("label"), k = 3)))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(unl(8L), "planted outlier not flagged under k-means centroids")
    assert(!unl(2L), "clean vector wrongly flagged under k-means centroids")
  }

  test("centroidAssign assigns clustered vectors to their label centroid") {
    val out = Ann.centroidAssign(vecs).collect()
    val matches = out.count(_.getBoolean(3))
    assert(matches >= 6, s"only $matches/8 matched")
  }

  test("mmrDiversify demotes the redundant duplicate; lambda=1 degenerates to plain top-k") {
    // query 0 = (1, 0.5); candidates: 1 and 2 are identical (1, 0.8) —
    // most relevant but mutually redundant — 3 = (1, 0.2) slightly less
    // relevant but diverse. Plain top-k: (1, 2, 3); MMR at λ=0.5 must
    // pick the diverse 3 at rank 2 and push the duplicate 2 to rank 3.
    def v(y: Float): Array[Float] = Array(1f, y, 0f, 0f, 0f, 0f, 0f, 0f)
    val emb = Seq((0L, v(0.5f)), (1L, v(0.8f)), (2L, v(0.8f)), (3L, v(0.2f)))
      .toDF("vec_id", "embedding")
    val mmr = Ann.mmrDiversify(emb, nQueries = 1, poolK = 3, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(mmr.toList == List((1L, 1), (3L, 2), (2L, 3)), s"got ${mmr.toList}")
    // λ=1: pure relevance — identical to the candidate generator's order
    val top = Ann.mmrDiversify(emb, nQueries = 1, poolK = 3, k = 3, lambda = 1.0)
      .collect().map(_.getLong(1))
    val brute = Ann.knnBrute(emb, nQueries = 1, k = 3).collect().map(_.getLong(1))
    assert(top.toList == brute.toList, s"λ=1 ${top.toList} != top-k ${brute.toList}")
  }

  test("knnFor with an explicit query relation reproduces knnBrute's prefix convention") {
    import org.apache.spark.sql.functions.col
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = vecs.filter(col("vec_id") >= 2)
    val explicit = Ann.knnFor(corpus, queries, k = 3).collect().toSeq
    val prefix = Ann.knnBrute(vecs, nQueries = 2, k = 3).collect().toSeq
    assert(explicit == prefix, s"$explicit vs $prefix")
    // non-prefix ids work: shifting the query ids only relabels the rows
    val shifted = Ann.knnFor(corpus,
        queries.select((col("query_id") + 500L).as("query_id"), col("embedding")), k = 3)
      .collect().map(r => (r.getLong(0) - 500L, r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(shifted.toSeq == prefix.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq)
  }

  test("rrfFuse scores exact reciprocal-rank sums; both-runs docs outrank single-run peers") {
    // run A: docs 10,11,12 at ranks 1..3; run B: 11,10,13
    val runA = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val runB = Seq((0L, 11L, 1), (0L, 10L, 2), (0L, 13L, 3))
      .toDF("query_id", "doc_id", "rank")
    val out = Ann.rrfFuse(Seq(runA, runB), kRrf = 60, topK = 10).collect()
      .map(r => r.getLong(2) -> ((r.getInt(1), r.getLong(3), r.getDouble(4)))).toMap
    def rrf(ranks: Seq[Int]): Double = {
      val s = ranks.foldLeft(0.0)((acc, r) => acc + 1.0 / (60 + r))
      math.floor(s * 1000000.0 + 0.5) / 1000000.0
    }
    // 10: 1/61+1/62; 11: 1/62+1/61 — identical sums, but the fold is
    // run-index ordered so both sum 1/61 then 1/62... 10 ties 11 and
    // doc_id breaks the tie
    assert(out(10L)._3 == rrf(Seq(1, 2)) && out(11L)._3 == rrf(Seq(2, 1)))
    assert(out(10L)._1 == 1 && out(11L)._1 == 2, s"tie must break by doc_id: $out")
    assert(out(10L)._2 == 2L && out(12L)._2 == 1L) // n_runs
    assert(out(12L)._3 == rrf(Seq(3)) && out(13L)._3 == rrf(Seq(3)))
    // a doc in both runs outranks same-rank single-run docs
    assert(out(10L)._1 < out(12L)._1 && out(11L)._1 < out(13L)._1)
    graft.Caches.release()
  }

  test("a21 indexed RRF fusion equals the live a20 composition under a full-recall probe") {
    import org.apache.spark.sql.functions.col
    import graft.text.TextStats
    val docs = Seq(
      (0L, "spark shuffle exchange partition plan"),
      (1L, "spark broadcast join plan cost"),
      (2L, "parquet scan pruning column filter"),
      (3L, "shuffle partition skew salt key"),
      (4L, "unrelated prose about gardens and rain"),
      (5L, "filter pushdown scan parquet footer")
    ).toDF("doc_id", "text")
    val qt = TextStats.sampleQueries(docs, every = 3, maxQueries = 2)
    val emb = graft.Caches.tracked(TextStats.hashEmbed(docs))
    val corpusVec = emb.select(col("doc_id").as("vec_id"), col("embedding"))
    val qe = emb.filter(col("doc_id") % 3 === 0 && col("doc_id") < 6)
      .select(col("doc_id").as("query_id"), col("embedding"))
    // live a20 composition (brute semantic leg, full tokenize lexical leg)
    val lex = TextStats.bm25Search(docs, qt)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = Ann.knnFor(corpusVec, qe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rank"))
    val live = Ann.rrfFuse(Seq(lex, sem)).collect().toSeq
    // at-rest twin: single-cell quantizer → the IVF probe has full
    // recall, so the fused pages must be IDENTICAL row for row
    val dir = java.nio.file.Files.createTempDirectory("graft_a21_").toString
    TextStats.writeTextIndex(docs, s"$dir/text")
    val oneCell = Seq((1, Array.fill(64)(1.0f))).toDF("c_label", "centroid")
    Ann.writeAnnIndex(corpusVec, oneCell, s"$dir/ann")
    val indexed = Ann.rrfFuseIndexed(qt, qe, s"$dir/text", s"$dir/ann",
      nprobe = 1).collect().toSeq
    assert(live.nonEmpty && indexed == live,
      s"indexed fusion must equal live a20: $indexed vs $live")
    // each query's own doc anchors rank 1 in both (the self-hit both
    // legs share under excludeSelf=false)
    val top = indexed.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top == Map(0L -> 0L, 3L -> 3L), s"self-hit must anchor: $top")
    graft.Caches.release()
  }

  test("bq recall curve: monotone in rerank depth, exact at full depth; a11 reaches the bq/sq8 variants") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // adversarial-ish for sign bits: vectors differ mostly in MAGNITUDE
    // per coordinate (sign patterns collide), so shallow Hamming
    // shortlists miss true neighbors and depth genuinely buys recall
    val rnd = new scala.util.Random(7)
    val emb = (0 until 40).map { i =>
      val v = Array.tabulate(16)(j =>
        (0.2f + rnd.nextFloat()) * (if ((i + j) % 5 == 0) -1 else 1))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val curve = graft.ann.Ann.bqRecallCurve(emb, nQueries = 5, k = 3,
      depths = Seq(2, 5, 35)).collect()
      .map(r => r.getInt(1) -> r.getDouble(2))
    assert(curve.map(_._1).toSeq == Seq(2, 5, 35))
    assert(curve.map(_._2).sliding(2).forall { case Array(a, b) => a <= b },
      s"recall must be monotone in depth: ${curve.toSeq}")
    assert(curve.last._2 == 1.0,
      s"a full-corpus shortlist reranks to exact recall: ${curve.toSeq}")
    // dim column carries the ACTUAL embedding dim (the honesty knob —
    // the a27 pins run at dim 64; this records what the corpus has)
    assert(graft.ann.Ann.bqRecallCurve(emb, 5, 3, Seq(35))
      .collect().head.getInt(0) == 16)
    // a11's evaluator reaches the quantization tiers by name
    for (v <- Seq("bq", "sq8")) {
      val r = graft.ann.Ann.recallEval(emb, variant = v, nQueries = 5, k = 3)
        .collect()
      assert(r.length == 5 && r.forall(_.getDouble(3) >= 0.0), s"variant $v")
    }
    // AUTO-DEPTH: bqRerankForRecall returns the smallest measured depth
    // meeting the target — by construction its recall on the same
    // queries is >= target; an unreachable target falls to the deepest
    val curveMap = curve.toMap
    val depths = Seq(2, 5, 35)
    val easy = graft.ann.Ann.bqRerankForRecall(emb, curveMap(2), 5, 3, depths)
    assert(easy == 2, s"target at depth-2's measured recall must pick 2, got $easy")
    val full = graft.ann.Ann.bqRerankForRecall(emb, 1.0, 5, 3, depths)
    assert(curveMap(full) == 1.0, s"target 1.0 must land on an exact depth: $full")
    val mid = graft.ann.Ann.bqRerankForRecall(
      emb, curveMap(2) + 1e-6, 5, 3, depths)
    assert(mid > 2 && curveMap(mid) > curveMap(2),
      s"a target above depth-2's recall must deepen: $mid")
    graft.Caches.release()
  }

  test("bq calibration: deterministic id-hash sample bounds the ground-truth pass and transfers; sidecar persists and probes reuse it") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = e.count()
    val depths = Seq(10, 25, 50, 100, 200)
    // the sampled curve (half the corpus, queries kept) must land on
    // the full curve's depth or an adjacent ladder rung — the
    // "sampled depth ≈ full depth" transfer claim, measured on the
    // driver's own embeddings, not a toy
    val fullD = graft.ann.Ann.bqRerankForRecall(e, 0.8, 10, 3, depths)
    graft.Caches.release()
    val sampD = graft.ann.Ann.bqRerankForRecall(e, 0.8, 10, 3, depths,
      calibrateSample = n / 2)
    graft.Caches.release()
    val ladder = depths.sorted
    assert(math.abs(ladder.indexOf(sampD) - ladder.indexOf(fullD)) <= 1,
      s"sampled depth $sampD must sit within one rung of full $fullD")
    // replayable: the keep test is a pure function of vec_id
    val sampD2 = graft.ann.Ann.bqRerankForRecall(e, 0.8, 10, 3, depths,
      calibrateSample = n / 2)
    assert(sampD2 == sampD, s"id-hash sampling must be deterministic: $sampD2 != $sampD")
    graft.Caches.release()
    // a bound at/above the corpus is the identity — the exact form
    assert(graft.ann.Ann.bqRerankForRecall(e, 0.8, 10, 3, depths,
      calibrateSample = n) == fullD)
    graft.Caches.release()
    // sidecar: calibrate-once persists beside the index; the ensure
    // seam returns the PERSISTED depth without recalibrating — pinned
    // by handing it embeddings whose own calibration would differ
    val dir = java.nio.file.Files.createTempDirectory("graft_bqcal").toString
    graft.ann.Ann.writeAnnIndexBq(e.filter($"vec_id" >= 10),
      graft.ann.Ann.labelCentroids(e), dir)
    val cal = graft.ann.Ann.calibrateAnnIndexBq(dir, e, 0.8, 10, 3, depths,
      calibrateSample = n / 2)
    assert(cal == sampD)
    graft.Caches.release()
    assert(graft.ann.Ann.calibratedBqRerank(spark, dir, 0.8, 3).contains(cal))
    assert(graft.ann.Ann.calibratedBqRerank(spark, dir, 0.99, 3).isEmpty,
      "a different target must not reuse another target's depth")
    assert(graft.ann.Ann.calibratedBqRerank(spark, dir, 0.8, 5).isEmpty,
      "recall@k curves do not transfer across k")
    val poisoned = e.limit(12) // would calibrate to the deepest rung
    assert(graft.ann.Ann.ensureBqCalibration(dir, poisoned, 0.8, 10, 3, depths) == cal,
      "ensure must read the sidecar, never recalibrate")
    graft.Caches.release()
    // staleness policy: within the growth band the persisted depth is
    // reused even when the handed corpus' own calibration would differ
    // (half the corpus is within 2x of the calibration-time count)...
    val half = e.filter($"vec_id" < n / 2)
    assert(graft.ann.Ann.maybeRecalibrateBq(dir, half, 0.8, 10, 3, depths,
      maxGrowth = 2.0) == cal,
      "within the growth band the sidecar depth must be reused")
    graft.Caches.release()
    // ...past the band it recalibrates on the corpus it was handed and
    // re-persists — the sidecar now reflects the shrunken corpus
    val recal = graft.ann.Ann.maybeRecalibrateBq(dir, poisoned, 0.8, 10, 3,
      depths, maxGrowth = 2.0)
    val own = graft.ann.Ann.bqRerankForRecall(poisoned, 0.8, 10, 3, depths)
    assert(recal == own, "past the band the policy must recalibrate")
    assert(graft.ann.Ann.calibratedBqRerank(spark, dir, 0.8, 3).contains(recal))
    graft.Caches.release()
  }

  test("a25 filtered kNN: pre-filter semantics exclude the wrong-label global NN") {
    import spark.implicits._
    // query 0 (label 1): the globally nearest corpus vector (10) has
    // label 2 — post-filtering a global top-k would return it or
    // under-return; pre-filter must surface only the label-1 mates
    val emb = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 1),
      (10L, Array(1.0f, 0f, 0f, 0f), 2),   // identical direction, wrong label
      (11L, Array(0.9f, 0.1f, 0f, 0f), 1),
      (12L, Array(0f, 1f, 0f, 0f), 1),
      (13L, Array(0.95f, 0.05f, 0f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.knnFiltered(emb, nQueries = 10, k = 3).collect()
    val q0 = out.filter(_.getLong(0) == 0L)
    assert(q0.map(_.getLong(2)).toSeq == Seq(11L, 12L),
      s"label-1 mates only, ranked by sim: ${q0.mkString(";")}")
    assert(q0.forall(_.getInt(1) == 1))
  }

  test("a26 filtered probe ≡ live a25 under full probing; label-correct under selective probing") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val nCells = cents.count().toInt
    val dir = java.nio.file.Files.createTempDirectory("graft_a26_idx").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= 10), cents, dir)
    val attrs = emb.select(emb("vec_id"), emb("label"))
    val live = Ann.knnFiltered(emb).collect()
    val full = Ann.ivfKnnIndexedFiltered(emb.filter(emb("vec_id") < 10), dir,
      attrs, k = 3, nprobe = nCells).collect()
    assert(full.toSeq == live.toSeq,
      "with every cell probed, the at-rest filtered search must equal live a25")
    graft.Caches.release()
    // selective probing: every neighbor still carries the query's label
    val sel = Ann.ivfKnnIndexedFiltered(emb.filter(emb("vec_id") < 10), dir,
      attrs, k = 3, nprobe = 1)
    assert(cachedFrames(sel).isEmpty, "routed on the driver: no cached query frame")
    val trueLabel = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    sel.collect().foreach { r =>
      assert(trueLabel(r.getLong(2)) == r.getInt(1),
        s"neighbor ${r.getLong(2)} label mismatch for query ${r.getLong(0)}")
    }
    graft.Caches.release()
  }

  /** `n` seeded 8-d vectors around five labelled axes. */
  private def clustered(n: Int) = {
    val r = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => (if (d == i % 5) 1f else 0f) + r.nextFloat() * 0.5f), i % 5)
    }.toDF("vec_id", "embedding", "label")
  }

  test("ivfKnnIndexed: a 300-query batch routes on the driver and equals the live search") {
    val emb = clustered(400)
    val cents = Ann.labelCentroids(emb)
    val nQ = 300
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_route").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= nQ), cents, dir)
    val probe = Ann.ivfKnnIndexed(emb.filter(emb("vec_id") < nQ), dir)
    // routed: no cached cell-assignment frame, the query side is local
    assert(cachedFrames(probe).isEmpty)
    val live = Ann.ivfKnn(emb, nQueries = nQ, centroids = Some(cents)).collect().toSeq
    assert(live.map(_.getLong(0)).distinct.size == nQ)
    assert(probe.collect().toSeq == live)
    // an empty batch returns no rows
    assert(Ann.ivfKnnIndexed(emb.filter(emb("vec_id") < 0), dir).collect().isEmpty)
  }

  test("driver routing picks assignN's cells for NaN and null queries and equal-score centroids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // cells 3 and 1 share a centroid (equal scores for every query);
    // cell 2 is orthogonal to query 10, which scores 0.0 against it and
    // cell 4; the zero cell 5 scores NaN against every query (assignN
    // ranks NaN first), and the zero and NaN queries score NaN against
    // every cell; query 15 is null (a null score against every cell)
    // and query 16 has a null element, which graft_cosine reads as 0
    val cents = Seq(
      (3, Array(1.0f, 0.0f, 0.0f)), (1, Array(1.0f, 0.0f, 0.0f)),
      (2, Array(0.0f, 1.0f, 0.0f)), (4, Array(0.0f, 0.0f, 1.0f)),
      (0, Array(-1.0f, 0.0f, 0.0f)), (5, Array(0.0f, 0.0f, 0.0f))).toDF("c_label", "centroid")
    val corpus = Seq((100L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_ties").toString
    Ann.writeAnnIndex(corpus, cents, dir)
    def f(xs: Any*): Seq[Any] = xs
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(10L, f(1.0f, 0.0f, 0.0f)), Row(11L, f(0.0f, 0.0f, 0.0f)),
        Row(12L, f(Float.NaN, 1.0f, 0.0f)), Row(13L, f(-0.0f, 0.0f, 2.0f)),
        Row(14L, f(0.3f, 0.3f, 0.3f)), Row(15L, null), Row(16L, f(null, -1.0f, 0.0f))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val saved = graft.sources.Sources.readParquet(spark, dir + "/centroids")
    for (nprobe <- 0 to 7) {
      val expected = Ann.assignN(queries, saved, nprobe)
        .select("vec_id", "c_label").collect().map(r => (r.getLong(0), r.getInt(1)))
      val (routed, probed, _) = Ann.routeToCells(queries, dir, nprobe)
      val got = routed.select("query_id", "c_label").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.sorted.toSeq == expected.sorted.toSeq, s"nprobe=$nprobe")
      assert(probed.toSet == got.map(_._2).toSet[Any], s"nprobe=$nprobe")
    }
  }

  test("ivfKnnIndexed: a probe after appendAnnIndex sees the appended vectors") {
    val emb = clustered(300)
    val nQ = 5
    val queries = emb.filter(emb("vec_id") < nQ)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_reopen").toString
    Ann.writeAnnIndex(emb.filter(emb("vec_id") >= nQ), Ann.labelCentroids(emb), dir,
      batchId = Some(-1L))
    // the first probe memoizes the centroid rows and the vectors' schema
    val before = Ann.ivfKnnIndexed(queries, dir, k = 1).collect()
    assert(before.forall(_.getLong(1) < 1000000L))
    Ann.appendAnnIndex(
      queries.select((queries("vec_id") + 1000000L).as("vec_id"), queries("embedding")),
      dir, batchId = Some(0L))
    val top = Ann.ivfKnnIndexed(queries, dir, k = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until nQ).foreach { qid =>
      assert(top(qid) == ((qid + 1000000L, 1.0)), s"query $qid: appended twin not retrieved")
    }
    graft.Caches.release()
  }

  test("ivfSq8KnnIndexed: a probe after re-seeding the path decodes with the new meta/ and centroids/") {
    import org.apache.spark.sql.functions.expr
    val first = clustered(200)
    val nQ = 5
    val queries = first.filter(first("vec_id") < nQ)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_reseed").toString
    Ann.writeAnnIndexSq8(first.filter(first("vec_id") >= nQ), Ann.labelCentroids(first), dir,
      dim = 8)
    // the first probe reads centroids/, meta/ and codes/ through the memos
    assert(Ann.ivfSq8KnnIndexed(queries, dir).collect().forall(_.getLong(1) < 1000000L))
    // the second corpus spans [-2, 4) per dimension instead of [0, 1.5)
    // and holds copies of the queries; decoded under the first ranges
    // a copy would read as (copy + 2) / 4, far from its query
    val second = first.filter(first("vec_id") >= nQ)
      .select(first("vec_id"), expr("transform(embedding, x -> CAST(x * 4 - 2 AS FLOAT))").as("embedding"),
        first("label"))
      .unionByName(queries.select((queries("vec_id") + 1000000L).as("vec_id"),
        queries("embedding"), queries("label")))
    Ann.writeAnnIndexSq8(second, Ann.labelCentroids(second), dir, dim = 8)
    val top = Ann.ivfSq8KnnIndexed(queries, dir).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for (qid <- 0L until nQ.toLong) {
      val (nid, sim) = top(qid)
      assert(nid == qid + 1000000L && sim >= 0.99,
        s"query $qid: re-seeded copy not top-1 (got $nid at $sim)")
    }
    graft.Caches.release()
  }

  test("a24 and a28 collect their query batch once: routing hands back the rows") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.labelCentroids(emb)
    val queries = emb.filter(emb("vec_id") < 10)
    val pq = java.nio.file.Files.createTempDirectory("graft_pq_jobs").toString
    val bq = java.nio.file.Files.createTempDirectory("graft_bq_jobs").toString
    Ann.writeAnnIndexPq(emb.filter(emb("vec_id") >= 10), cents, pq)
    Ann.writeAnnIndexBq(emb.filter(emb("vec_id") >= 10), cents, bq)
    // the first calls memoize the centroid rows and the codes' schemas
    Ann.ivfPqKnnIndexed(queries, pq)
    Ann.ivfBqKnnIndexed(queries, bq, emb)
    // a28: the batch collect; a24: the meta/ row and the batch collect
    assert(jobsRunBy(Ann.ivfBqKnnIndexed(queries, bq, emb)) == 1)
    assert(jobsRunBy(Ann.ivfPqKnnIndexed(queries, pq)) == 2)
    graft.Caches.release()
  }

  test("ranking contract: the window tail and the fold tail rank NaN, null, ±0.0 and ties identically") {
    val nan = Double.NaN
    // query 0: NaN, null, ±0.0 and tied sims under distinct ids;
    // queries 1–3 hold fewer rows than the larger k
    val cand = Seq[(Long, Long, Option[Double])](
      (0L, 10L, Some(0.5)), (0L, 11L, Some(nan)), (0L, 12L, None), (0L, 13L, Some(0.5)),
      (0L, 14L, Some(-0.0)), (0L, 15L, Some(0.0)), (0L, 16L, Some(-0.0)), (0L, 17L, Some(-1.0)),
      (0L, 18L, Some(nan)), (0L, 19L, None), (0L, 9L, Some(0.0)), (0L, 8L, Some(1.0)),
      (1L, 21L, None), (1L, 20L, Some(nan)),
      (2L, 30L, Some(0.25)),
      (3L, 41L, Some(-0.0)), (3L, 40L, Some(0.0)), (3L, 42L, Some(0.12345678))
    ).toDF("query_id", "neighbor_id", "sim")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))),
        r.getInt(3)))
    for (k <- Seq(1, 2, 5, 20)) {
      val window = rows(Ann.windowTopK(cand, k))
      val fold = rows(Ann.foldTopK(cand, k).orderBy("query_id", "rn"))
      assert(window == fold, s"k=$k: window $window != fold $fold")
    }
    // the contract itself: NaN first, then sim DESC with ±0.0 equal,
    // ties to the smaller id, nulls last
    assert(rows(Ann.windowTopK(cand, 20)).filter(_._1 == 0L).map(_._2) ==
      Seq(11L, 18L, 8L, 10L, 13L, 9L, 14L, 15L, 16L, 17L, 12L, 19L))
  }

  test("a warmed calibratedBqRerank reads calibration/ through the schema memo; a recalibration is seen") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_bq_cal_jobs").toString
    // a one-rung ladder calibrates to that rung whatever the recall
    assert(Ann.calibrateAnnIndexBq(dir, emb, 0.8, depths = Seq(25)) == 25)
    assert(Ann.calibratedBqRerank(spark, dir, 0.8).contains(25)) // memoizes the schema
    // left: the sidecar row's collect; no footer-inference job
    assert(jobsRunBy(Ann.calibratedBqRerank(spark, dir, 0.8)) == 1)
    assert(Ann.calibrateAnnIndexBq(dir, emb, 0.8, depths = Seq(50)) == 50)
    assert(Ann.calibratedBqRerank(spark, dir, 0.8).contains(50),
      "the next call must read the recalibrated depth")
    graft.Caches.release()
  }
}
