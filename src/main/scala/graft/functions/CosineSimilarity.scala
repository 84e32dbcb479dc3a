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
  override def prettyName: String = "graft_cosine"

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
  /** Builds HyperplaneBuckets from SQL: the scalar args must be
    * literals (they parameterize plane generation, not row data). */
  private[functions] def hyperplaneBuilder(children: Seq[Expression]): Expression = {
    def intArg(i: Int): Int = children(i).eval().asInstanceOf[Number].intValue()
    def longArg(i: Int): Long = children(i).eval().asInstanceOf[Number].longValue()
    HyperplaneBuckets(children.head, longArg(1), intArg(2), intArg(3), intArg(4))
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent: re-registering logs a replace warning per call
    if (!reg.functionExists(FunctionIdentifier("graft_cosine")))
      reg.registerFunction(
        FunctionIdentifier("graft_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
        (children: Seq[Expression]) => CosineSimilarity(children.head, children(1)))
    if (!reg.functionExists(FunctionIdentifier("graft_hyperplane_buckets")))
      reg.registerFunction(
        FunctionIdentifier("graft_hyperplane_buckets"),
        new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplane_buckets"),
        hyperplaneBuilder _)
    if (!reg.functionExists(FunctionIdentifier("graft_shingle_hashes")))
      reg.registerFunction(
        FunctionIdentifier("graft_shingle_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
        (children: Seq[Expression]) => ShingleHashes(children.head,
          children(1).eval().asInstanceOf[Number].intValue()))
    if (!reg.functionExists(FunctionIdentifier("graft_span_hashes")))
      reg.registerFunction(
        FunctionIdentifier("graft_span_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_span_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, n)
        })
    if (!reg.functionExists(FunctionIdentifier("graft_span_pos_hashes")))
      reg.registerFunction(
        FunctionIdentifier("graft_span_pos_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_span_pos_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, n, dedup = false)
        })
    if (!reg.functionExists(FunctionIdentifier("graft_rolling_span_hashes")))
      reg.registerFunction(
        FunctionIdentifier("graft_rolling_span_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_rolling_span_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, 1, dedup = false)
        })
    if (!reg.functionExists(FunctionIdentifier("graft_minhash_bands")))
      reg.registerFunction(
        FunctionIdentifier("graft_minhash_bands"),
        new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
        (children: Seq[Expression]) => MinHashBands(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue()))
    if (!reg.functionExists(FunctionIdentifier("graft_simhash")))
      reg.registerFunction(
        FunctionIdentifier("graft_simhash"),
        new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
        (children: Seq[Expression]) => SimHash64(children.head))
    if (!reg.functionExists(FunctionIdentifier("graft_hash_embed")))
      reg.registerFunction(
        FunctionIdentifier("graft_hash_embed"),
        new ExpressionInfo(classOf[HashEmbed].getName, "graft_hash_embed"),
        (children: Seq[Expression]) => HashEmbed(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].longValue()))
    if (!reg.functionExists(FunctionIdentifier("graft_cdc_hashes")))
      reg.registerFunction(
        FunctionIdentifier("graft_cdc_hashes"),
        new ExpressionInfo(classOf[CdcChunkHashes].getName, "graft_cdc_hashes"),
        (children: Seq[Expression]) => CdcChunkHashes(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue()))
    if (!reg.functionExists(FunctionIdentifier("graft_byte_entropy")))
      reg.registerFunction(
        FunctionIdentifier("graft_byte_entropy"),
        new ExpressionInfo(classOf[ByteEntropy].getName, "graft_byte_entropy"),
        (children: Seq[Expression]) => ByteEntropy(children.head))
    if (!reg.functionExists(FunctionIdentifier("graft_blockhash")))
      reg.registerFunction(
        FunctionIdentifier("graft_blockhash"),
        new ExpressionInfo(classOf[BlockMeanHash].getName, "graft_blockhash"),
        (children: Seq[Expression]) => BlockMeanHash(children.head))
    if (!reg.functionExists(FunctionIdentifier("graft_cdc_bounds")))
      reg.registerFunction(
        FunctionIdentifier("graft_cdc_bounds"),
        new ExpressionInfo(classOf[CdcChunkBounds].getName, "graft_cdc_bounds"),
        (children: Seq[Expression]) => CdcChunkBounds(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue()))
    if (!reg.functionExists(FunctionIdentifier("graft_signbits")))
      reg.registerFunction(
        FunctionIdentifier("graft_signbits"),
        new ExpressionInfo(classOf[SignBits].getName, "graft_signbits"),
        (children: Seq[Expression]) => SignBits(children.head))
    if (!reg.functionExists(FunctionIdentifier("graft_hamming")))
      reg.registerFunction(
        FunctionIdentifier("graft_hamming"),
        new ExpressionInfo(classOf[HammingDistance].getName, "graft_hamming"),
        (children: Seq[Expression]) => HammingDistance(children.head, children(1)))
  }

  private val pqSeq = new java.util.concurrent.atomic.AtomicLong()
  private val bloomSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Bind a BUILT Bloom filter (serialized bytes) under a unique
    * per-call function name, [[registerPqEncode]]-style: the bitset
    * rides in the builder closure, never in SQL text. Callers drop the
    * name once their plans are analyzed. Returns the name of a
    * one-argument function over array<bigint> counting might-contain
    * hits. */
  def registerBloomHitCount(spark: SparkSession, bloomBytes: Array[Byte]): String = {
    val fname = s"graft_bloom_hit_count_${bloomSeq.incrementAndGet()}"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo(classOf[BloomHitCount].getName, fname),
      (children: Seq[Expression]) => BloomHitCount(children.head, bloomBytes))
    fname
  }

  /** Same binding for the scalar boolean probe over one bigint key. */
  def registerBloomContains(spark: SparkSession, bloomBytes: Array[Byte]): String = {
    val fname = s"graft_bloom_contains_${bloomSeq.incrementAndGet()}"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo(classOf[BloomMightContain].getName, fname),
      (children: Seq[Expression]) => BloomMightContain(children.head, bloomBytes))
    fname
  }

  private val sq8Seq = new java.util.concurrent.atomic.AtomicLong()

  /** Bind TRAINED SQ8 (lo, scale) arrays under unique per-call
    * function names, [[registerPqEncode]]-style: returns the names of
    * the encode (array<float> → binary) and asymmetric-cosine
    * (array<float>, binary → double) functions. Callers drop both
    * once their plans are analyzed. */
  def registerSq8(spark: SparkSession, lo: Array[Float],
                  scale: Array[Float]): (String, String) = {
    val n = sq8Seq.incrementAndGet()
    val enc = s"graft_sq8_encode_$n"
    val sim = s"graft_sq8_cosine_$n"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(enc),
      new ExpressionInfo(classOf[Sq8Encode].getName, enc),
      (children: Seq[Expression]) => Sq8Encode(children.head, lo, scale))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(sim),
      new ExpressionInfo(classOf[Sq8Cosine].getName, sim),
      (children: Seq[Expression]) => Sq8Cosine(children.head, children(1), lo, scale))
    (enc, sim)
  }

  private val pcaSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Bind a TRAINED PCA basis (mean + k×dim row-major components)
    * under a unique per-call function name — the [[registerSq8]]
    * protocol: analysis is eager at DataFrame creation, so callers
    * drop the name via [[dropFunction]] once their plans are built. */
  def registerPcaProject(spark: SparkSession, mean: Array[Float],
                         components: Array[Float], k: Int): String = {
    val fname = s"graft_pca_project_${pcaSeq.incrementAndGet()}"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo(classOf[PcaProject].getName, fname),
      (children: Seq[Expression]) => PcaProject(children.head, mean, components, k))
    fname
  }

  /** Bind a TRAINED PQ codebook under a unique per-call function name
    * (data can't ride in SQL text; the builder closure carries it).
    * Analysis is eager at DataFrame creation, so callers drop the name
    * via [[dropFunction]] as soon as their plans are built. */
  def registerPqEncode(spark: SparkSession, codebook: Array[Float],
                       m: Int, ksub: Int, subDim: Int): String = {
    val fname = s"graft_pq_encode_${pqSeq.incrementAndGet()}"
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo(classOf[PqEncode].getName, fname),
      (children: Seq[Expression]) => PqEncode(children.head, codebook, m, ksub, subDim))
    fname
  }

  def dropFunction(spark: SparkSession, fname: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(fname))
}

/** SparkSessionExtensions hook: injects every graft native function at
  * session build time (`withExtensions(new GraftExtensions)` or the
  * spark.sql.extensions conf) — the deployment path where operators
  * run through plain `spark.sql` without calling GraftFunctions. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("graft_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
        (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction(
      (FunctionIdentifier("graft_hyperplane_buckets"),
        new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplane_buckets"),
        GraftFunctions.hyperplaneBuilder _))
    ext.injectFunction(
      (FunctionIdentifier("graft_shingle_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
        (children: Seq[Expression]) => ShingleHashes(children.head,
          children(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (FunctionIdentifier("graft_span_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_span_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, n)
        }))
    ext.injectFunction(
      (FunctionIdentifier("graft_span_pos_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_span_pos_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, n, dedup = false)
        }))
    ext.injectFunction(
      (FunctionIdentifier("graft_rolling_span_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_rolling_span_hashes"),
        (children: Seq[Expression]) => {
          val n = children(1).eval().asInstanceOf[Number].intValue()
          ShingleHashes(children.head, n, 1, dedup = false)
        }))
    ext.injectFunction(
      (FunctionIdentifier("graft_minhash_bands"),
        new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
        (children: Seq[Expression]) => MinHashBands(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (FunctionIdentifier("graft_simhash"),
        new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
        (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction(
      (FunctionIdentifier("graft_hash_embed"),
        new ExpressionInfo(classOf[HashEmbed].getName, "graft_hash_embed"),
        (children: Seq[Expression]) => HashEmbed(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction(
      (FunctionIdentifier("graft_cdc_hashes"),
        new ExpressionInfo(classOf[CdcChunkHashes].getName, "graft_cdc_hashes"),
        (children: Seq[Expression]) => CdcChunkHashes(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (FunctionIdentifier("graft_byte_entropy"),
        new ExpressionInfo(classOf[ByteEntropy].getName, "graft_byte_entropy"),
        (children: Seq[Expression]) => ByteEntropy(children.head)))
    ext.injectFunction(
      (FunctionIdentifier("graft_blockhash"),
        new ExpressionInfo(classOf[BlockMeanHash].getName, "graft_blockhash"),
        (children: Seq[Expression]) => BlockMeanHash(children.head)))
    ext.injectFunction(
      (FunctionIdentifier("graft_cdc_bounds"),
        new ExpressionInfo(classOf[CdcChunkBounds].getName, "graft_cdc_bounds"),
        (children: Seq[Expression]) => CdcChunkBounds(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (FunctionIdentifier("graft_signbits"),
        new ExpressionInfo(classOf[SignBits].getName, "graft_signbits"),
        (children: Seq[Expression]) => SignBits(children.head)))
    ext.injectFunction(
      (FunctionIdentifier("graft_hamming"),
        new ExpressionInfo(classOf[HammingDistance].getName, "graft_hamming"),
        (children: Seq[Expression]) => HammingDistance(children.head, children(1))))
  }
}
