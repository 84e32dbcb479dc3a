package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Direct calls to graft.functions' public kernels on seeded rows shaped
  * like the workloads' (8-90-word documents over the generator's
  * vocabulary, 64-d unit vectors). Every kernel runs a fixed number of
  * calls per repetition; the result is the median over repetitions of
  * nanoseconds per call. */
object Kernels {
  private val Vocab = ("spark line column order small sort fast value scan a vector query agg " +
    "table hash slow filter customer stream big merge group key join the " +
    "batch part index cache plan shuffle stage task row file").split(" ")
  private val Rows = 2000
  private val Reps = 7
  private val Dim = 64
  @volatile private var sink = 0L

  def run(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val words = Array.fill(Rows)(Array.fill(8 + rnd.nextInt(82))(Vocab(rnd.nextInt(Vocab.length))))
    val toks: Array[ArrayData] = words.map(w => new GenericArrayData(w.map(UTF8String.fromString)))
    val bytes = words.map(_.mkString(" ").getBytes("UTF-8"))
    val shingles = toks.map(ShingleHashes.compute(_, 3, 1))
    val vecs = Array.fill(Rows) {
      val v = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val vecData = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)
    val lo = Array.tabulate(Dim)(d => vecs.map(_(d)).min)
    val scale = Array.tabulate(Dim)(d => (vecs.map(_(d)).max - lo(d)) / 255f)
    val codes = vecData.map(Sq8Encode.compute(_, lo, scale))
    val signs = vecData.map(SignBits.compute)
    val k = 10
    val topK = new TypedAggregators.NeighborTopK(k)
    val cands = Array.tabulate(Rows)(i => (-rnd.nextDouble(), i.toLong, rnd.nextDouble()))
    val buffers = cands.grouped(k).map(_.foldLeft(topK.zero)(topK.reduce)).toArray

    def time(calls: Int)(f: Int => Long): Double = {
      val perCall = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        var acc = 0L
        var i = 0
        while (i < calls) { acc += f(i); i += 1 }
        sink += acc
        (System.nanoTime() - t0).toDouble / calls
      }.sorted
      perCall(Reps / 2)
    }

    Map(
      "minhash_bands" -> time(Rows)(i => MinHashBands.compute(shingles(i), 64, 16).numElements()),
      "shingle_hashes" -> time(Rows)(i => ShingleHashes.compute(toks(i), 3, 1).numElements()),
      "simhash64" -> time(Rows)(i => SimHash64.compute(toks(i))),
      "cdc_chunk_hashes" -> time(Rows)(i => CdcChunkHashes.compute(bytes(i), 16, 5).numElements()),
      "block_mean_hash" -> time(Rows)(i => BlockMeanHash.compute(bytes(i))),
      "hash_embed" -> time(Rows)(i => HashEmbed.compute(toks(i), Dim, 42L).numElements()),
      "sq8_cosine" -> time(Rows)(i =>
        java.lang.Double.doubleToLongBits(Sq8Cosine.compute(vecData(i), codes((i + 1) % Rows), lo, scale))),
      "hamming" -> time(Rows)(i => HammingDistance.compute(signs(i), signs((i + 1) % Rows))),
      "neighbor_topk_reduce" -> time(Rows) { i =>
        topK.reduce(buffers(i / k), cands((i * 7919) % Rows)).length
      },
      "neighbor_topk_merge" -> time(buffers.length)(i =>
        topK.merge(buffers(i), buffers((i + 1) % buffers.length)).length)
    )
  }
}
