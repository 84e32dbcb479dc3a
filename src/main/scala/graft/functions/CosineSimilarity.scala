package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two
  * float-vector columns, with whole-stage codegen (`doGenCode`) — the
  * hot inner loop of every similarity-search operator. A Scala UDF
  * here would box both arrays per row and break codegen; this compiles
  * to a primitive loop over the unsafe array data.
  *
  * Accumulation is strictly sequential left-to-right in double, which
  * is what the DuckDB oracle reproduces (SURVEY.md §5).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // expects two array<float> inputs; produced only by graft operators
  // (AbstractDataType/ExpectsInputTypes are private[sql], so no
  // declarative type contract here)
  override def dataType: DataType = DoubleType
  override def prettyName: String = CosineSimilarity.sqlName

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xi = (double) $a.getFloat($i);
         |  double yi = (double) $b.getFloat($i);
         |  $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** The SQL name, registered by [[GraftFunctions]]. */
  private[functions] val sqlName = "graft_cosine"

  /** The interpreted kernel, also called on the driver by the at-rest
    * probes' query routing, so a routed query scores its cells exactly
    * as `graft_cosine` does in a plan; `doGenCode` emits the same loop. */
  def of(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** SQL registration for graft's native expressions; idempotent. Also
  * usable as `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * via the companion extensions class. */
object GraftFunctions {
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every fixed graft function as (name, info, builder): [[register]]
    * and [[GraftExtensions]] both install exactly this table. Scalar
    * arguments must be literals (they parameterize the expression, not
    * row data). */
  private[functions] val fixed = Seq(
    fn(CosineSimilarity.sqlName, classOf[CosineSimilarity])(c => CosineSimilarity(c.head, c(1))),
    fn("graft_hyperplane_buckets", classOf[HyperplaneBuckets])(c =>
      HyperplaneBuckets(c.head, longArg(c(1)), intArg(c(2)), intArg(c(3)), intArg(c(4)))),
    fn("graft_shingle_hashes", classOf[ShingleHashes])(c => ShingleHashes(c.head, intArg(c(1)))),
    fn("graft_span_hashes", classOf[ShingleHashes])(c =>
      ShingleHashes(c.head, intArg(c(1)), intArg(c(1)))),
    fn("graft_span_pos_hashes", classOf[ShingleHashes])(c =>
      ShingleHashes(c.head, intArg(c(1)), intArg(c(1)), dedup = false)),
    fn("graft_rolling_span_hashes", classOf[ShingleHashes])(c =>
      ShingleHashes(c.head, intArg(c(1)), 1, dedup = false)),
    fn("graft_minhash_bands", classOf[MinHashBands])(c =>
      MinHashBands(c.head, intArg(c(1)), intArg(c(2)))),
    fn("graft_simhash", classOf[SimHash64])(c => SimHash64(c.head)),
    fn("graft_hash_embed", classOf[HashEmbed])(c =>
      HashEmbed(c.head, intArg(c(1)), longArg(c(2)))),
    fn("graft_cdc_hashes", classOf[CdcChunkHashes])(c =>
      CdcChunkHashes(c.head, intArg(c(1)), intArg(c(2)))),
    fn("graft_byte_entropy", classOf[ByteEntropy])(c => ByteEntropy(c.head)),
    fn("graft_blockhash", classOf[BlockMeanHash])(c => BlockMeanHash(c.head)),
    fn("graft_cdc_bounds", classOf[CdcChunkBounds])(c =>
      CdcChunkBounds(c.head, intArg(c(1)), intArg(c(2)))),
    fn("graft_signbits", classOf[SignBits])(c => SignBits(c.head)),
    fn("graft_hamming", classOf[HammingDistance])(c => HammingDistance(c.head, c(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent: re-registering logs a replace warning per call
    fixed.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }

  private val perCall = new java.util.concurrent.atomic.AtomicLong()

  /** Binds `build` under `name` plus a unique per-call suffix: trained
    * state (a codebook, ranges, a filter's bits) rides in the builder
    * closure, never in SQL text. Analysis is eager at DataFrame
    * creation, so callers drop the name via [[dropFunction]] once their
    * plans are built. Returns the bound name. */
  private def bindPerCall(spark: SparkSession, name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): String = {
    val fname = s"${name}_${perCall.incrementAndGet()}"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname), new ExpressionInfo(cls.getName, fname), build)
    fname
  }

  /** Binds a BUILT Bloom filter (serialized bytes): a one-argument
    * function over array<bigint> counting might-contain hits. */
  def registerBloomHitCount(spark: SparkSession, bloomBytes: Array[Byte]): String =
    bindPerCall(spark, "graft_bloom_hit_count", classOf[BloomHitCount])(c =>
      BloomHitCount(c.head, bloomBytes))

  /** Same binding for the scalar boolean probe over one bigint key. */
  def registerBloomContains(spark: SparkSession, bloomBytes: Array[Byte]): String =
    bindPerCall(spark, "graft_bloom_contains", classOf[BloomMightContain])(c =>
      BloomMightContain(c.head, bloomBytes))

  /** Binds TRAINED SQ8 (lo, scale) arrays: returns the names of the
    * encode (array<float> → binary) and asymmetric-cosine
    * (array<float>, binary → double) functions. Callers drop both. */
  def registerSq8(spark: SparkSession, lo: Array[Float],
                  scale: Array[Float]): (String, String) =
    (bindPerCall(spark, "graft_sq8_encode", classOf[Sq8Encode])(c => Sq8Encode(c.head, lo, scale)),
      bindPerCall(spark, "graft_sq8_cosine", classOf[Sq8Cosine])(c =>
        Sq8Cosine(c.head, c(1), lo, scale)))

  /** Binds a TRAINED PCA basis (mean + k×dim row-major components). */
  def registerPcaProject(spark: SparkSession, mean: Array[Float],
                         components: Array[Float], k: Int): String =
    bindPerCall(spark, "graft_pca_project", classOf[PcaProject])(c =>
      PcaProject(c.head, mean, components, k))

  /** Binds a TRAINED PQ codebook. */
  def registerPqEncode(spark: SparkSession, codebook: Array[Float],
                       m: Int, ksub: Int, subDim: Int): String =
    bindPerCall(spark, "graft_pq_encode", classOf[PqEncode])(c =>
      PqEncode(c.head, codebook, m, ksub, subDim))

  def dropFunction(spark: SparkSession, fname: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(fname))
}

/** SparkSessionExtensions hook: injects every graft native function at
  * session build time (`withExtensions(new GraftExtensions)` or the
  * spark.sql.extensions conf) — the deployment path where operators
  * run through plain `spark.sql` without calling GraftFunctions. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.fixed.foreach(ext.injectFunction)
}
