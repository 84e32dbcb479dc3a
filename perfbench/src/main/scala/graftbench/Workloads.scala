package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Caches, SparkEntry}
import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.BinaryPipeline
import graft.sources.Sources
import graft.text.TextStats

/** One timed operation of the closed loop. */
final case class Op(pass: Int, name: String, kind: String, traced: Boolean, seconds: Double,
                    error: Option[String])

/** A workload: untimed set-up, passes of timed operations issued one at a
  * time from the calling thread, and output checks. */
abstract class Workload(val spark: SparkSession, val data: String, val out: String) {
  val ops = mutable.ArrayBuffer[Op]()
  /** Facts the record reports next to the metrics (check outcomes, sizes). */
  val info = mutable.LinkedHashMap[String, Any]()

  /** A pass's wall time on a quiet 4-core host. It turns --seconds into a
    * fixed pass count, so every run does the same work however fast the
    * host happens to be. */
  def nominalPassSeconds: Double

  /** Everything before the first timed operation that set-up time covers. */
  def setup(): Unit
  /** Checks that run before the timed loop, outside set-up time. */
  def preCheck(): Unit = ()
  def pass(i: Int, tracer: Option[Tracer]): Unit
  /** Checks that run after the timed loop. */
  def finish(): Unit
  /** Index storage metrics; zero for a workload that keeps no index. */
  var storageMetrics: Map[String, Double] = Map(
    "sources.index_bytes_per_input_byte" -> 0.0, "sources.max_files_per_leaf" -> 0.0,
    "sources.compactions" -> 0.0)

  protected def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Time one operation; with a tracer it becomes a span, and `body` gets
    * the span id to hang child spans on. A failure is recorded, not
    * thrown, and the engine's tracked caches are released either way. */
  protected def op(pass: Int, name: String, kind: String, module: String,
                   tracer: Option[Tracer])(body: Option[Long] => Unit): Unit = {
    val t0 = System.nanoTime()
    val error =
      try {
        tracer match {
          case Some(t) => t.span(name, kind, module)(id => body(Some(id)))
          case None => body(None)
        }
        None
      } catch { case e: Throwable => Some(message(e)) }
      finally {
        tracer.foreach(_.sampleCachedBytes())
        Caches.release()
      }
    ops += Op(pass, name, kind, tracer.isDefined, (System.nanoTime() - t0) / 1e9, error)
  }

  protected def child[T](tracer: Option[Tracer], parent: Option[Long], name: String,
                         kind: String, module: String)(body: => T): T =
    (tracer, parent) match {
      case (Some(t), Some(p)) => t.span(name, kind, module, p)(_ => body)
      case _ => body
    }

  /** A module call that returns a frame, then the action on it. */
  protected def buildAndRun(tracer: Option[Tracer], parent: Option[Long], name: String,
                            module: String)(build: => DataFrame): Unit = {
    val df = child(tracer, parent, name, "build", module)(build)
    child(tracer, parent, name, "exec", module)(df.write.format("noop").mode("overwrite").save())
  }

  protected def sortedRows(df: DataFrame): Seq[String] = df.collect().map(rowString).toSeq.sorted

  private def rowString(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")
}

object Workload {
  /** The module a registered query belongs to, from its name's family. */
  def moduleOf(query: String): String = query.head match {
    case 'q' => "operators"
    case 'd' => "dedup"
    case 't' => "text"
    case 'a' => "ann"
    case 'm' => "multimodal"
  }
}

/** A pass runs every query once: the registered closure, a `noop` sink,
  * then Caches.release(). Set-up runs each query once more, writing its
  * output for the oracle check; that run also warms the JIT, codegen
  * cache and parquet footers. A query without an oracle runs again after
  * the loop so the checker can compare the two outputs' digests. */
final class QueryWorkload(spark: SparkSession, data: String, out: String, names: Seq[String],
                          val nominalPassSeconds: Double)
    extends Workload(spark, data, out) {
  private val oracle = SparkEntry.oracleSql
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  private def dump(stage: String, which: Seq[String]): Unit = {
    val errors = mutable.LinkedHashMap[String, String]()
    fns.filter(f => which.contains(f._1)).foreach { case (n, fn) =>
      try fn(spark, data).write.mode("overwrite").parquet(s"$out/check/$stage/$n")
      catch { case e: Throwable => errors(n) = message(e) }
      finally Caches.release()
    }
    info(s"${stage}_errors") = errors
  }

  private val digestQueries = names.filterNot(oracle.contains)

  def setup(): Unit = {
    dump("first", names)
    info("oracle_sql") = names.flatMap(n => oracle.get(n).map(n -> _)).toMap
    info("digest_queries") = digestQueries
  }

  def pass(i: Int, tracer: Option[Tracer]): Unit = fns.foreach { case (n, fn) =>
    val module = Workload.moduleOf(n)
    op(i, n, "query", module, tracer)(id => buildAndRun(tracer, id, n, module)(fn(spark, data)))
  }

  def finish(): Unit = dump("second", digestQueries)
}

/** At-rest retrieval: IVF, BM25 and MinHash indexes and a CDC chunk store
  * are built once over the corpus (batch-rooted layouts), then each pass
  * runs the five probe calls and appends one batch to each index through
  * the batch write path, followed by the compaction check of the three
  * indexes. */
final class RetrievalWorkload(spark: SparkSession, data: String, out: String)
    extends Workload(spark, data, out) {
  val nominalPassSeconds = 14.0
  private def read(n: String): DataFrame = spark.read.parquet(s"$data/$n.parquet")
  private val files = Option(new java.io.File(data).list()).map(_.toSeq).getOrElse(Seq.empty)
  private val nProbe = files.count(_.endsWith("_terms.parquet"))
  private val nAppend = files.count(f => f.startsWith("append") && f.endsWith("_docs.parquet"))
  private val root = s"$out/index"
  private val annIdx = s"$root/ann"
  private val textIdx = s"$root/text"
  private val dedupIdx = s"$root/dedup"
  private val chunkIdx = s"$root/chunks"
  private val indexes = Seq(annIdx, textIdx, dedupIdx, chunkIdx)
  private val corpusDocs = read("corpus_docs")
  private val corpusEmb = read("corpus_emb")
  private var appended = 0
  private var compactions = 0
  private val mismatches = mutable.LinkedHashMap[String, String]()
  private val atRest = mutable.LinkedHashMap[String, Seq[String]]()
  private val storage = mutable.LinkedHashMap[String, Any]()

  private def terms(b: Int) = read(s"probe${b}_terms")
  private def vecs(b: Int) = read(s"probe${b}_vecs")
  private def docs(b: Int) = read(s"probe${b}_docs").select("doc_id", "text")
  private def ids(b: Int) = read(s"probe${b}_ids")
  private def appendDocs(a: Int) = read(s"append${a}_docs")
  private def appendEmb(a: Int) = read(s"append${a}_emb")

  private val probes: Seq[(String, String, Int => DataFrame)] = Seq(
    ("ivf_knn_indexed", "ann", b => Ann.ivfKnnIndexed(vecs(b), annIdx)),
    ("bm25_search_indexed", "text", b => TextStats.bm25SearchIndexed(terms(b), textIdx)),
    ("rrf_fuse_indexed", "ann", b => Ann.rrfFuseIndexed(terms(b),
      vecs(b).withColumnRenamed("vec_id", "query_id"), textIdx, annIdx)),
    ("dedup_against_index", "dedup", b => Dedup.dedupAgainstIndex(docs(b), dedupIdx)),
    ("read_chunk_store", "multimodal", b =>
      BinaryPipeline.readChunkStore(spark, chunkIdx).join(ids(b), Seq("doc_id"), "left_semi")))

  /** Set-up builds the indexes, which warms the write paths, then warms the
    * probe paths with one call of each probe on the first probe batch,
    * keeping its rows for the twin check. */
  def setup(): Unit = {
    require(nProbe > 0 && nAppend > 0, s"no probe or append batches under $data")
    val t0 = System.nanoTime()
    Ann.writeAnnIndex(corpusEmb.select("vec_id", "embedding"), Ann.labelCentroids(corpusEmb),
      annIdx, batchId = Some(-1L))
    TextStats.writeTextIndex(corpusDocs, textIdx, batchId = Some(-1L))
    Dedup.writeDedupIndex(corpusDocs, dedupIdx, batchId = Some(-1L))
    Caches.release()
    BinaryPipeline.writeChunkStore(corpusDocs.select("doc_id", "text"), chunkIdx, batchId = Some(-1L))
    info("index_build_s") = (System.nanoTime() - t0) / 1e9
    probes.foreach { case (name, _, f) =>
      try atRest(name) = sortedRows(f(0))
      catch { case e: Throwable => mismatches(name) = message(e) }
      finally Caches.release()
    }
  }

  /** Each at-rest probe of the first batch against its live twin over the
    * same corpus, before any append. */
  override def preCheck(): Unit = {
    storage("after_build") = Storage.of(indexes, inputBytes())
    val emb = corpusEmb.select("vec_id", "embedding")
    val corpus = corpusDocs.select("doc_id", "text")
    val live: Seq[(String, () => DataFrame)] = Seq(
      "ivf_knn_indexed" -> (() => Ann.ivfKnn(vecs(0).unionByName(emb),
        nQueries = vecs(0).count().toInt, centroids = Some(spark.read.parquet(s"$annIdx/centroids")))),
      "bm25_search_indexed" -> (() => TextStats.bm25Search(corpus, terms(0))),
      "dedup_against_index" -> (() => Dedup.dedupAgainst(docs(0), corpus)),
      "read_chunk_store" -> (() => corpus.join(ids(0), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))))
    live.filter { case (name, _) => atRest.contains(name) }.foreach { case (name, twin) =>
      try {
        val a = atRest(name)
        val l = sortedRows(twin())
        if (a.isEmpty) mismatches(name) = "at-rest probe returned no rows"
        else if (a != l)
          mismatches(name) = s"at-rest ${a.size} rows, live ${l.size} rows; " +
            s"first difference: ${a.zipAll(l, "-", "-").find(p => p._1 != p._2)}"
      } catch { case e: Throwable => mismatches(name) = message(e) }
      finally Caches.release()
    }
    info("twin_mismatches") = mismatches
  }

  def pass(i: Int, tracer: Option[Tracer]): Unit = {
    val b = i % nProbe
    probes.foreach { case (name, module, f) =>
      op(i, name, "probe", module, tracer)(id => buildAndRun(tracer, id, name, module)(f(b)))
    }
    if (appended < nAppend)
      op(i, "append", "append", "sources", tracer)(id => append(tracer, id))
  }

  /** Append the next batch to every index through the batch write path,
    * then run the compaction check on the IVF, BM25 and MinHash indexes. */
  private def append(tracer: Option[Tracer], parent: Option[Long]): Unit = {
    val a = appended
    def write(module: String)(body: => Unit): Unit =
      child(tracer, parent, s"append_$module", "write", module)(body)
    write("ann")(Ann.appendAnnIndex(appendEmb(a).select("vec_id", "embedding"), annIdx,
      batchId = Some(a.toLong)))
    write("text")(TextStats.writeTextIndex(appendDocs(a), textIdx, batchId = Some(a.toLong)))
    write("dedup")(Dedup.appendDedupIndex(appendDocs(a), dedupIdx, batchId = Some(a.toLong)))
    write("multimodal")(BinaryPipeline.appendChunkStore(appendDocs(a).select("doc_id", "text"),
      chunkIdx, a.toLong))
    Seq(annIdx, textIdx, dedupIdx).foreach { p =>
      child(tracer, parent, "maybe_optimize_index", "compact", "sources") {
        if (Sources.maybeOptimizeIndex(spark, p).exists(_ > 0)) compactions += 1
      }
    }
    appended += 1
  }

  def finish(): Unit = {
    val last = Storage.of(indexes, inputBytes())
    storage("after_appends") = last
    storageMetrics = Map(
      "sources.index_bytes_per_input_byte" ->
        last.values.map(_("bytes")).sum / last.values.map(_("input_bytes")).sum,
      "sources.max_files_per_leaf" -> last.values.map(_("max_files_per_leaf")).max,
      "sources.compactions" -> compactions.toDouble)
    info("storage") = storage
    info("appends") = appended
    info("compactions") = compactions
  }

  /** Input bytes behind each index: the corpus plus the batches appended. */
  private def inputBytes(): Seq[Long] = {
    def size(n: String) = new java.io.File(s"$data/$n.parquet").length()
    val appendedDocs = (0 until appended).map(a => size(s"append${a}_docs")).sum
    val appendedEmb = (0 until appended).map(a => size(s"append${a}_emb")).sum
    val docBytes = size("corpus_docs") + appendedDocs
    Seq(size("corpus_emb") + appendedEmb, docBytes, docBytes, docBytes)
  }
}

/** Index storage, read from the filesystem listing. */
object Storage {
  private def files(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  /** Per index: bytes on disk, bytes per input byte and the most parquet
    * files in any one directory. */
  def of(roots: Seq[String], input: Seq[Long]): Map[String, Map[String, Double]] =
    roots.zip(input).map { case (r, in) =>
      def walk(d: java.io.File): Seq[java.io.File] = files(d).flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      def dirs(d: java.io.File): Seq[java.io.File] = d +: files(d).filter(_.isDirectory).flatMap(dirs)
      val root = new java.io.File(r)
      val bytes = walk(root).map(_.length()).sum.toDouble
      val maxFiles = dirs(root).map(d => files(d).count(_.getName.endsWith(".parquet"))).max
      root.getName -> Map("bytes" -> bytes, "input_bytes" -> in.toDouble,
        "bytes_per_input_byte" -> bytes / in,
        "max_files_per_leaf" -> maxFiles.toDouble)
    }.toMap
}
