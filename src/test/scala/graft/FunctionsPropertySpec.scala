package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Property-style pins for the native compiled loops and the
  * exactness-critical pair-pruning math — seeded random inputs (and
  * one exhaustive sweep), so failures reproduce deterministically.
  * These guard the claims the oracle protocol RESTS on: the shingle
  * loop really is chained XXH64, minhash/simhash really are
  * order-invariant over their input sets, and the d02/d03 size
  * prefilter can never prune a qualifying pair. */
class FunctionsPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randTok(): String =
    Iterator.continually(rnd.alphanumeric.head).take(1 + rnd.nextInt(6)).mkString
  private def randToks(n: Int): Seq[String] = Seq.fill(n)(randTok())

  test("shingle/span/rolling hash loop matches an independent chained-XXH64 on random inputs") {
    for (_ <- 1 to 300) {
      val toks = randToks(rnd.nextInt(30))
      val n = 1 + rnd.nextInt(5)
      val stride = if (rnd.nextBoolean()) 1 else n
      val dedup = rnd.nextBoolean()
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): Any).toArray)
      val got = graft.functions.ShingleHashes.compute(arr, n, stride, dedup)
        .toLongArray().toSeq
      val raw =
        if (toks.length < n) Seq.empty[Long]
        else (0 to (toks.length - n) / stride).map { i =>
          var h = 42L
          for (j <- 0 until n) {
            val b = toks(i * stride + j).getBytes("UTF-8")
            h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
          }
          h
        }
      val expect = if (dedup) raw.distinct.sorted else raw
      assert(got == expect,
        s"toks=$toks n=$n stride=$stride dedup=$dedup: $got != $expect")
    }
  }

  test("the d02/d03 jaccard size prefilter never prunes a qualifying pair (exhaustive)") {
    // claim: j = shared/(na+nb-shared) >= t  ⇒  na·t <= nb+0.5 ∧ nb·t <= na+0.5
    // — the condition the pair joins prune on BEFORE counting shared
    // shingles; a counterexample would make d02/d03 silently lossy
    for (t <- Seq(0.5, 0.7, 0.8, 0.9); na <- 1 to 60; nb <- 1 to 60) {
      val maxShared = math.min(na, nb)
      val j = maxShared.toDouble / (na + nb - maxShared) // max possible jaccard
      if (j >= t)
        assert(na * t <= nb + 0.5 && nb * t <= na + 0.5,
          s"prefilter would prune a pair with max-jaccard $j >= $t: na=$na nb=$nb")
    }
  }

  test("minhash bands and simhash are order-invariant over their input sets") {
    graft.functions.GraftFunctions.register(spark)
    val rows = (1 to 60).map { _ =>
      val hashes = Seq.fill(3 + rnd.nextInt(40))(rnd.nextLong())
      val toks = randToks(3 + rnd.nextInt(20)).distinct
      (hashes, rnd.shuffle(hashes), toks, rnd.shuffle(toks))
    }
    val out = rows.toDF("ha", "hb", "ta", "tb").selectExpr(
      "graft_minhash_bands(ha, 16, 4) = graft_minhash_bands(hb, 16, 4) AS mh_eq",
      "graft_simhash(ta) = graft_simhash(tb) AS sh_eq").collect()
    assert(out.forall(_.getBoolean(0)), "minhash bands changed under input reordering")
    assert(out.forall(_.getBoolean(1)), "simhash changed under input reordering")
  }

  test("hash-embed is a bag embedding: unit (or zero) norm, permutation-invariant, dim-bounded") {
    graft.functions.GraftFunctions.register(spark)
    val rows = (1 to 60).map { _ =>
      val toks = randToks(rnd.nextInt(25)) // may be empty → zero vector
      (toks, rnd.shuffle(toks))
    }
    val out = rows.toDF("ta", "tb").selectExpr(
      "graft_hash_embed(ta, 16, 42L) AS ea",
      "graft_hash_embed(tb, 16, 42L) AS eb",
      "size(ta) AS n").collect()
    out.foreach { r =>
      val ea = r.getSeq[Float](0)
      assert(ea == r.getSeq[Float](1), "bag semantics: token order must not matter")
      assert(ea.length == 16, s"dim must be 16, got ${ea.length}")
      val norm = math.sqrt(ea.map(x => x.toDouble * x).sum)
      if (r.getInt(2) == 0) assert(norm == 0.0, "empty doc must embed to the zero vector")
      else assert(math.abs(norm - 1.0) < 1e-3, s"non-empty doc norm $norm != 1")
    }
  }

  test("bloom probes: no false negatives ever, hit counts bounded and monotone") {
    import org.apache.spark.sql.functions.col
    val members = (0 until 500).map(_ => rnd.nextLong()).distinct
    val bloom = members.toDF("h").stat.bloomFilter("h", members.size.toLong, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray
    }
    val contains = graft.functions.GraftFunctions.registerBloomContains(spark, bytes)
    val hits = graft.functions.GraftFunctions.registerBloomHitCount(spark, bytes)
    // every inserted key answers true — the one-sidedness everything
    // downstream (d13/q51/s17) leans on
    val missed = members.toDF("h").selectExpr(s"$contains(h) AS c")
      .collect().count(!_.getBoolean(0))
    assert(missed == 0, s"$missed false negatives")
    // hit count over an array: bounded by size, monotone under append,
    // zero for the empty array, and >= the member count of the array
    val probe = Seq(
      (members.take(10), 10), (members.take(10) ++ Seq.fill(5)(rnd.nextLong()), 10),
      (Seq.empty[Long], 0)
    ).toDF("arr", "nMembers")
    val rows = probe.selectExpr(s"$hits(arr) AS n", "size(arr) AS sz", "nMembers").collect()
    rows.foreach { r =>
      assert(r.getInt(0) <= r.getInt(1), "count cannot exceed array size")
      assert(r.getInt(0) >= r.getInt(2), "members must all hit")
    }
    graft.functions.GraftFunctions.dropFunction(spark, contains)
    graft.functions.GraftFunctions.dropFunction(spark, hits)
  }

  test("hyperplane buckets are deterministic and bounded to 2^bits") {
    graft.functions.GraftFunctions.register(spark)
    val rows = (1 to 40).map(_ => Tuple1(Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val out = rows.toDF("v").selectExpr(
      "graft_hyperplane_buckets(v, 42L, 4, 3, 8) AS b1",
      "graft_hyperplane_buckets(v, 42L, 4, 3, 8) AS b2").collect()
    out.foreach { r =>
      val b1 = r.getSeq[Int](0)
      assert(b1 == r.getSeq[Int](1), "same call, same seed must be identical")
      assert(b1.length == 4, "one bucket per table")
      assert(b1.forall(b => b >= 0 && b < 8), s"bucket outside [0, 2^3): $b1")
    }
  }

  test("NeighborTopK: any split and merge order keeps the brute-force top-k under (key, id)") {
    import graft.functions.TypedAggregators.NeighborTopK
    type Row = (Double, Long, Double)
    // the class's own ordering: Double.TotalOrdering on the key (NaN
    // last, -0.0 before +0.0), then the id
    val ord = Ordering.by[Row, (Double, Long)](r => (r._1, r._2))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    // a small key pool forces duplicate keys (ties broken by id)
    val pool = Seq(Double.NaN, -0.0, 0.0, 1.0, -1.0, 0.5,
      Double.PositiveInfinity, Double.NegativeInfinity)
    def key(): Double = if (rnd.nextInt(3) == 0) rnd.nextGaussian() else pool(rnd.nextInt(pool.size))
    // NaN != NaN and -0.0 == 0.0 under ==: compare the exact bits
    def bits(rs: Seq[Row]) = rs.map { case (k, id, p) =>
      (java.lang.Double.doubleToRawLongBits(k), id, java.lang.Double.doubleToRawLongBits(p)) }
    for (_ <- 1 to 400) {
      val k = 1 + rnd.nextInt(8)
      val agg = new NeighborTopK(k)
      val n = rnd.nextInt(40)
      val ids = rnd.shuffle((0 until n).map(_ => rnd.nextLong()).distinct)
      val rows: Seq[Row] = ids.map(id => (key(), id, if (rnd.nextBoolean()) Double.NaN else rnd.nextDouble()))
      // random split into partitions (some empty), each folded by
      // reduce in a random row order
      val nParts = 1 + rnd.nextInt(5)
      val parts = rows.groupBy(_ => rnd.nextInt(nParts)).values.toSeq ++
        Seq.fill(rnd.nextInt(2))(Seq.empty[Row])
      var bufs = rnd.shuffle(parts.map(p => rnd.shuffle(p).foldLeft(agg.zero)(agg.reduce)))
      // random merge order: join two random buffers until one is left
      while (bufs.size > 1) {
        val i = rnd.nextInt(bufs.size)
        val j = (i + 1 + rnd.nextInt(bufs.size - 1)) % bufs.size
        bufs = bufs.indices.filterNot(x => x == i || x == j).map(bufs) :+ agg.merge(bufs(i), bufs(j))
      }
      val got = agg.finish(bufs.headOption.getOrElse(agg.zero))
      val expect = rows.sorted(ord).take(k)
      assert(bits(got) == bits(expect), s"k=$k rows=$rows: $got != $expect")
    }
  }

  test("byte entropy: bounded to [0,8], permutation-invariant, monotone under uniformization") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Arbitrary, Gen, Test => PropTest}
    val gen = Gen.nonEmptyListOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
    val prop = forAll(gen) { bytes =>
      val h = graft.functions.ByteEntropy.compute(bytes)
      // range bound and the info-theory ceiling: H <= log2(#distinct)
      val distinct = bytes.distinct.length
      val shuffled = scala.util.Random.shuffle(bytes.toSeq).toArray
      h >= 0.0 && h <= 8.0 + 1e-12 &&
        h <= math.log(distinct.toDouble) / math.log(2.0) + 1e-9 &&
        // a histogram property: byte ORDER cannot matter
        graft.functions.ByteEntropy.compute(shuffled) == h
    }
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }
}
