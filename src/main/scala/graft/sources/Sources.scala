package graft.sources

import java.io.IOException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2): the reference reads MySQL/Hive
  * and Kafka and writes MySQL; a Spark-native deployment reads columnar
  * files or JDBC and writes partitioned/bucketed columnar tables. These
  * helpers centralize the options that matter at 100 TB.
  *
  * Scale posture: always pass an explicit schema (schema inference
  * scans data twice); write with partitionBy on the pruning key so
  * downstream queries get partition elimination; bucket fact tables on
  * their dominant join key to make those joins shuffle-free.
  */
object Sources {

  /** A value derived from the parquet data under a path, kept per
    * (path, session parquet conf) together with the validity token it
    * was derived under: the sorted (file, length, mtime) of the path's
    * recursive listing. A lookup whose listing differs recomputes and
    * REPLACES the entry, so the memo holds one entry per (path, conf),
    * however many versions of the path a process reads (an index
    * appended to on every pass would otherwise add an entry per
    * append).
    *
    * The listing is a recursive `FileSystem.listStatus` walk. Hadoop's
    * `listFiles(p, true)` returns `LocatedFileStatus`es, whose
    * constructor copies each file's permission; on the local
    * filesystem without native Hadoop that forks a shell per file.
    * On a 4-core Linux host that cost about 5.6 ms a file against
    * 0.15 ms for its length, so a hit on a 69-file index directory
    * took 527 ms, more than the footer job the memo saves.
    * `listStatus` never reads permissions.
    *
    * The listing runs before `compute`, so a concurrent rewrite can
    * only file a newer value under an older token, which no later
    * listing matches. The one known stale hit: a rewrite that keeps
    * every file name and length and lands within the filesystem's
    * mtime granularity. */
  private[graft] final class PathMemo[V] {
    private val entries =
      new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[(String, Long, Long)], V)]()

    /** The value for `path`'s current version: memoized, or `compute`d
      * (outside any map lock: it may run a Spark job) and filed in
      * place of the path's previous entry. None when the path cannot
      * be listed (missing, unreadable); its entries are then dropped,
      * so a deleted index does not keep its last value alive. */
    def apply(spark: SparkSession, path: String)(compute: => V): Option[V] = {
      val token = try Some(listing(spark, path)) catch {
        case _: IOException =>
          entries.keySet.removeIf(_._1 == path)
          None
      }
      token.map { files =>
        val key = (path, spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }.sorted)
        Option(entries.get(key)).collect { case (t, v) if t == files => v }.getOrElse {
          val v = compute
          entries.put(key, (files, v))
          v
        }
      }
    }

    /** The path of every entry, once per (path, conf). */
    private[graft] def paths: Seq[String] = entries.keySet.asScala.toSeq.map(_._1)
  }

  private[graft] val parquetSchemas = new PathMemo[StructType]

  /** The engine's parquet reader: `spark.read.parquet(path)` with the
    * schema inferred once per table version instead of once per call.
    * Spark's parquet inference runs a one-task job to read a footer;
    * here every call after the first on the same files reads with the
    * memoized schema and runs no job until the plan executes.
    *
    * The schema lives in a [[PathMemo]]: one entry per path and
    * session parquet conf (the explicitly set `spark.sql.parquet.*`
    * and `spark.sql.legacy.parquet.*` entries, which steer inference:
    * `nanosAsLong` decides whether a TIMESTAMP(NANOS) column resolves
    * at all), valid while the path's listing is unchanged. A rewrite,
    * an append or a deletion under the path changes the listing, so
    * only the first read after it pays the inference job. The listing
    * itself costs a few milliseconds for the index directories the
    * probes read (`listStatus`, see [[PathMemo]]).
    *
    * Every call returns a fresh relation (`spark.read.schema(s)`), so
    * each gets its own attribute ids: self-joins and `df("col")`
    * references behave as with plain reads. A path that cannot be
    * listed falls through to the plain read, so callers see Spark's
    * own exception. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSchemas(spark, path)(spark.read.parquet(path).schema) match {
      case None => spark.read.parquet(path)
      case Some(schema) => spark.read.schema(schema).parquet(path)
    }

  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else out += ((s.getPath.toString, s.getLen, s.getModificationTime))
    }
    walk(root)
    out.result().sorted
  }

  /** CSV with explicit schema — no inference pass. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** JSON lines with explicit schema — no inference pass. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JDBC read with predicate-based parallelism: `numPartitions` range
    * predicates on `partitionColumn` so every executor reads its own
    * slice (the reference reads its MySQL tables single-threaded). */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitionColumn: String, lowerBound: Long, upperBound: Long,
               numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound).option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()

  /** JDBC result sink — the reference persists every analysis result
    * to a transactional store (MySQL); any JDBC database slots in via
    * the url. Results of graft operators are small aggregates, so the
    * default is a single-connection batched write; pass
    * `numPartitions` to open that many parallel connections for large
    * result sets (each task writes its own slice). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite", batchSize: Int = 10000,
                numPartitions: Option[Int] = None): Unit =
    numPartitions.map(df.repartition(_)).getOrElse(df)
      .write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .save()

  /** Catalog-table read — the Hive/metastore seam: operators take
    * DataFrames, so swapping a parquet path for a catalog table is
    * this one call. */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Partitioned parquet sink: directory partitioning on the pruning
    * key(s) → partition elimination for every downstream reader. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** sink_upsert — key-based upsert into a partitioned parquet
    * dataset (MERGE without a table format): the incremental-corpus
    * maintenance op — a new batch lands, rows with matching keys
    * replace their old versions, everything else appends. Dynamic
    * partition overwrite rewrites ONLY the partitions the batch
    * touches: untouched partitions' files are never read or written,
    * so the cost scales with the batch, not the corpus. The merged
    * result is eagerly localCheckpoint'ed before the write — Spark
    * (correctly) refuses to overwrite a path it is still reading;
    * the checkpoint breaks the file dependency the way a table
    * format's snapshot isolation would. */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        partitionCol: String, keyCol: String): Unit = {
    val existing = spark.read.parquet(path)
    val touched = updates.select(partitionCol).distinct()
    val merged = existing
      .join(touched, Seq(partitionCol), "left_semi")   // only touched partitions rewrite
      .join(updates.select(keyCol), Seq(keyCol), "left_anti") // drop replaced keys
      .unionByName(updates.select(existing.columns.map(col): _*))
      .localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
  }

  /** Bucketed managed-table sink: co-locates rows by join key so
    * bucket-aware joins/aggregations skip the shuffle entirely. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** sink_sorted — range-clustered parquet layout: rows are range-
    * partitioned on `sortCol` (one contiguous key range per output
    * file) and sorted inside each file. This is the DATA-SKIPPING
    * layout: parquet row-group min/max statistics become tight and
    * file key-ranges disjoint, so a selective predicate on `sortCol`
    * touches one file's worth of row groups instead of sampling every
    * file — at 100 TB this is the difference between a full scan and
    * reading a slice (the single-column form of Z-ordering; directory
    * partitioning handles the coarse key, this handles the fine one).
    * repartitionByRange samples the column to build balanced range
    * bounds — one extra pass over the frame, the honest cost of a
    * clustered layout. */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
                  numFiles: Int, mode: String = "overwrite"): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(mode).parquet(path)

  /** sink_zorder — MULTI-column locality clustering (Z-order), the
    * lakehouse `OPTIMIZE ZORDER BY` layout: each clustering column is
    * rank-normalized to a `bitsPerCol`-bit bucket id via ONE
    * approx-quantile pass (equi-depth, so skew and scale differences
    * can't starve a column's bits), the ids' bits are interleaved
    * into a Z-value by a compiled expression, and rows are
    * range-partitioned + sorted on it. Where sink_sorted makes
    * min/max stats tight for ONE key, this makes them simultaneously
    * tight for EVERY clustered column — a selective predicate on any
    * of them skips most files/row-groups. At 100 TB this is the
    * standard answer to "we filter by two keys and can only sort by
    * one".
    *
    * Cost: one quantile aggregation (boundaries ≤ 2^bitsPerCol − 1
    * doubles per column, collected to the driver — bounded by
    * construction, the q47 protocol) + one range exchange, the same
    * shape as sink_sorted. The per-row bucket fold is a compiled
    * array aggregate over the broadcast boundary array. */
  def writeZordered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bitsPerCol: Int = 8,
                    mode: String = "overwrite"): Unit = {
    require(cols.nonEmpty && cols.size * bitsPerCol <= 62,
      s"z-value must fit a long: ${cols.size} cols x $bitsPerCol bits")
    import org.apache.spark.sql.functions.{aggregate, lit, percentile_approx,
      shiftleft, shiftright, typedlit, when}
    import org.apache.spark.sql.Column
    val buckets = 1 << bitsPerCol
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val bRow = df.select(cols.map(c =>
      percentile_approx(col(c).cast("double"), typedlit(qs), lit(10000)).as(c)): _*)
      .first()
    val bounds: Map[String, Seq[Double]] =
      cols.zipWithIndex.map { case (c, i) =>
        val bs = bRow.getSeq[Double](i)
        // percentile_approx of an all-NULL column is NULL — fail with
        // the actual problem, not an NPE out of typedlit
        require(bs != null, s"writeZordered: clustering column '$c' is " +
          "entirely NULL — no quantile boundaries to bucket on")
        c -> bs
      }.toMap
    def bucketOf(c: String): Column =
      aggregate(typedlit(bounds(c)), lit(0),
        (acc, b) => acc + when(col(c).cast("double") >= b, 1).otherwise(0))
    // bit i of column j lands at z-bit i·nCols + j: equal interleave.
    // The bucket is widened to LONG before any shift: shiftleft on an
    // int masks the distance mod 32 (and bit 31 sign-extends on a
    // later cast), which would silently scramble the interleave for
    // any config past 31 total bits — the require above allows 62.
    val n = cols.size
    val z = cols.zipWithIndex.map { case (c, j) =>
      val b = bucketOf(c).cast("long")
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + j)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** sink_compact — small-files compaction: rewrite a parquet
    * directory into ceil(bytes / targetFileBytes) files. Streaming
    * sinks, per-batch upserts and over-parallel writes accumulate
    * thousands of small files; at 100 TB the resulting
    * footer-read/task-schedule overhead dominates reads (the classic
    * small-files problem), and the fix is this periodic rewrite.
    * Sizing comes from the filesystem listing (no data scan);
    * `coalesce` avoids a shuffle when shrinking the file count — the
    * common case; pass repartition=true to rebalance skewed inputs at
    * the cost of one exchange. Returns the target file count.
    *
    * The rewrite stages through a DURABLE sibling directory, then
    * swaps by rename: the compacted copy is fully on disk before the
    * source is touched, so an executor loss or job crash at any point
    * leaves a complete copy (original or staged) on the filesystem —
    * an in-place overwrite backed only by localCheckpoint blocks
    * would destroy the source while the replacement lived in
    * executor memory with its lineage cut. */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     repartition: Boolean = false): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a prior compact crashed between its two renames? restore the
    // original before sizing — without this the rerun fails on the
    // missing target and recovery is manual
    repairStagedAt(fs, hPath, "compact")
    val bytes = fs.getContentSummary(hPath).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val sized = if (repartition) df.repartition(n) else df.coalesce(n)
    val tmp = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.compact-tmp")
    fs.delete(tmp, true)
    sized.write.mode("overwrite").parquet(tmp.toString)
    swapStaged(fs, tmp, hPath, "compact")
    n
  }

  /** Index-at-rest maintenance: re-compact every LEAF partition
    * directory of a partitioned parquet layout down to
    * ceil(bytes / targetFileBytes) files, keeping the directory
    * structure — and therefore every probe's static partition
    * pruning — intact. The dedup and ANN index sinks append one file
    * set per batch/trigger; after hundreds of appends each `bi=` /
    * `c_label=` directory is a small-files field and footer reads
    * dominate probes. This is [[compactParquet]]'s staged-swap
    * machinery applied per partition directory, with DOT-PREFIXED
    * staging siblings (Spark readers ignore dot/underscore names), so
    * a probe racing the pass reads either the old or the new complete
    * file set of a leaf, never a mix. Flat (unpartitioned) layouts
    * compact as a single leaf. Content is byte-identical before and
    * after (spec-pinned through the probe surface); only file count
    * changes. Returns the number of leaf directories rewritten. */
  def optimizeIndex(spark: SparkSession, path: String,
                    targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    // heal any leaf a prior crashed pass left behind its -old name —
    // a missing leaf would otherwise just drop out of the listing
    // (silent data loss to probes) until repaired manually
    repairStaged(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var rewritten = 0
    leafDirs(fs, root).foreach { leaf =>
      val files = fs.listStatus(leaf).filter(_.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      if (files.length > n) {
        val tmp = new Path(leaf.getParent, s".${leaf.getName}.compact-tmp")
        fs.delete(tmp, true)
        // reading the leaf directly carries only the data columns —
        // the partition values live in the directory name, which the
        // swap preserves
        spark.read.parquet(leaf.toString).coalesce(n)
          .write.mode("overwrite").parquet(tmp.toString)
        swapStaged(fs, tmp, leaf, "optimizeIndex")
        rewritten += 1
      }
    }
    rewritten
  }

  /** The LEAF partition directories of a (possibly partitioned)
    * parquet layout — directories that hold parquet files directly.
    * Dot/underscore names (staging siblings, Spark markers) are
    * skipped, matching what Spark's own reader lists. Shared by
    * [[optimizeIndex]] (the rewrite) and [[maybeOptimizeIndex]] (the
    * policy check), so the two agree on what a leaf is. */
  private def leafDirs(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path
                      ): Seq[org.apache.hadoop.fs.Path] = {
    val st = fs.listStatus(p).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith(".") || n.startsWith("_")
    }
    val dirs = st.filter(_.isDirectory)
    if (dirs.nonEmpty) dirs.toSeq.flatMap(d => leafDirs(fs, d.getPath))
    else if (st.exists(_.getPath.getName.endsWith(".parquet"))) Seq(p)
    else Seq.empty
  }

  /** LAYOUT-decay policy check for the at-rest index sinks — the
    * index-side mirror of VersionedTable's maybeOptimize, and the
    * sibling of Dedup's maybeRefreezeContainmentIndex (order decay):
    * run [[optimizeIndex]] iff some leaf partition directory has
    * accumulated more than `maxLeafFiles` parquet files. File count
    * per leaf is the honest trigger for append decay — every
    * streaming trigger lands one file set per leaf it touches, so
    * counts grow monotonically with triggers until a compaction
    * collapses them. The check is directory LISTINGS only (the same
    * class of work the rewrite's own planning does — no data read,
    * no footer read), so an ingest loop can afford it on cadence.
    * Returns the number of leaves rewritten when the policy fired. */
  def maybeOptimizeIndex(spark: SparkSession, path: String,
                         maxLeafFiles: Int = 64,
                         targetFileBytes: Long = 128L * 1024 * 1024
                        ): Option[Int] = {
    import org.apache.hadoop.fs.Path
    // heal first: a leaf stranded behind its -old name by a crashed
    // swap is dot-prefixed and would simply vanish from the listing,
    // reading as "not decayed" until something else repaired it
    repairStaged(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val decayed = leafDirs(fs, root).exists { leaf =>
      fs.listStatus(leaf).count(_.getPath.getName.endsWith(".parquet")) > maxLeafFiles
    }
    if (!decayed) None
    else Some(optimizeIndex(spark, path, targetFileBytes))
  }

  /** The staged-swap publish step shared by the SINGLE-relation
    * maintenance rewrites ([[compactParquet]], [[optimizeIndex]] —
    * content-identical rewrites where a reader can't observe an
    * inconsistency; multi-relation rewrites publish via
    * [[Snapshots]]'s atomic pointer instead): `staged` is a FULLY
    * WRITTEN durable sibling of `target`; the swap is two renames
    * with rollback, so a crash at any point leaves a complete copy
    * (original or staged) on the filesystem and the original is never
    * destroyed before its replacement is durable. Between the two
    * renames the target path itself does not exist — a crash in that
    * window strands the original behind its `-old` name; every
    * staging verb runs [[repairStaged]] on entry so the next
    * maintenance pass (or an explicit ops call) rolls it back instead
    * of requiring manual recovery. */
  private[graft] def swapStaged(fs: org.apache.hadoop.fs.FileSystem,
                                staged: org.apache.hadoop.fs.Path,
                                target: org.apache.hadoop.fs.Path,
                                verb: String): Unit = {
    val old = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.$verb-old")
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"$verb: cannot stage $target aside")
    if (!fs.rename(staged, target)) {
      fs.rename(old, target) // roll back — the original is untouched
      throw new java.io.IOException(s"$verb: cannot swap in $target")
    }
    fs.delete(old, true)
  }

  /** Roll back one stranded [[swapStaged]] target: when
    * `.{name}.{verb}-old` exists with `{name}` missing, a crash hit
    * the between-renames window — restore the original (it is the
    * only copy whose completeness is certain; the staged sibling is
    * re-derivable, originals are not). An `-old` sibling NEXT TO a
    * live target is a swap that completed before its cleanup —
    * deleted. True when something was repaired. */
  private def repairStagedAt(fs: org.apache.hadoop.fs.FileSystem,
                             target: org.apache.hadoop.fs.Path,
                             verb: String): Boolean = {
    val old = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.$verb-old")
    if (!fs.exists(old)) false
    else if (!fs.exists(target)) fs.rename(old, target)
    else { fs.delete(old, true); true }
  }

  /** Crash-debris repair for every staged-swap verb under `root`
    * (recursive): finds `.{name}.{verb}-old` directories — the one
    * naming [[swapStaged]] owns — and repairs each ([[repairStagedAt]]
    * semantics: roll the original back when its target is missing,
    * clean up when the swap had completed). Runs on entry of
    * [[compactParquet]] and [[optimizeIndex]] so a rerun self-heals
    * instead of failing on the missing target, and is public as the
    * ops verb for a reader's fail path; also repairs debris left by
    * pre-snapshot-protocol vacuums/refreezes on existing stores.
    * Returns the number of repairs performed. */
  def repairStaged(spark: SparkSession, root: String): Int = {
    import org.apache.hadoop.fs.Path
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return 0
    var repaired = 0
    def walk(dir: Path): Unit = {
      val st = try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => return }
      st.foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith(".") && n.endsWith("-old")) {
          val base = n.stripPrefix(".").stripSuffix("-old")
          val cut = base.lastIndexOf('.')
          if (cut > 0) {
            val target = new Path(dir, base.substring(0, cut))
            if (repairStagedAt(fs, target, base.substring(cut + 1)))
              repaired += 1
          }
        } else if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_"))
          walk(s.getPath)
      }
    }
    walk(rootP)
    repaired
  }

  /** Streaming file source (the Spark-native stand-in for the
    * reference's Kafka topic): new files in `dir` become micro-batches. */
  def readStreamJson(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)

  /** Checkpointed streaming parquet sink: exactly-once file output —
    * the checkpoint directory carries offsets + file-commit log, so a
    * restarted query resumes without duplicating batches. Append mode
    * (file sinks take no updates); downstream readers see only
    * committed files. */
  def writeStreamParquet(df: DataFrame, path: String,
                         checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** The per-batch JDBC writer behind [[writeStreamJdbc]], exposed so a
    * retried batch can be exercised (and spec-tested) directly: tags
    * every row with the micro-batch id, DELETEs any rows a previous
    * attempt of the SAME batch left behind, then appends — so a batch
    * replayed after a failure (or a checkpoint restart) lands exactly
    * once. The delete-then-append pair is the standard foreachBatch
    * idempotence recipe for stores without MERGE; `batch_id` must not
    * collide with an input column. */
  def jdbcBatchWriter(url: String, table: String,
                      batchSize: Int = 10000): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        // existence probe instead of swallowing SQLException: a DELETE
        // that fails for any reason OTHER than "first batch, no table
        // yet" (lock timeout, dropped connection) must abort the batch,
        // or the replayed rows would duplicate — the exact failure mode
        // this writer exists to prevent
        val meta = conn.getMetaData
        // getTables treats _ and % as LIKE wildcards — escape them, or
        // a sink named stream_results matches any streamXresults table
        // and the DELETE on the truly-missing table kills the query
        val esc = meta.getSearchStringEscape
        def exists(n: String): Boolean = {
          val pat = n.replace(esc, esc + esc)
            .replace("_", esc + "_").replace("%", esc + "%")
          val rs = meta.getTables(null, null, pat, Array("TABLE"))
          try rs.next() finally rs.close()
        }
        if (exists(table) || exists(table.toUpperCase) || exists(table.toLowerCase)) {
          val st = conn.createStatement()
          try st.executeUpdate(
            s"DELETE FROM $table WHERE ${dialect.quoteIdentifier("batch_id")} = $batchId")
          finally st.close()
        }
      } finally conn.close()
      batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.format("jdbc").mode("append")
        .option("url", url).option("dbtable", table)
        .option("batchsize", batchSize.toString)
        .save()
    }

  /** Streaming JDBC result sink — the reference's Spark Streaming jobs
    * store every micro-batch's results in MySQL; this is that shape on
    * Structured Streaming: checkpointed offsets + the batch-id
    * idempotent writer above give exactly-once table contents across
    * restarts. Any JDBC store slots in via the url. */
  def writeStreamJdbc(df: DataFrame, url: String, table: String, checkpoint: String,
                      batchSize: Int = 10000): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch(jdbcBatchWriter(url, table, batchSize))
      .start()

  /** Format-agnostic streaming source: a real deployment swaps the
    * file stand-in for Kafka as pure config —
    * `readStreamSource(spark, "kafka", Map("kafka.bootstrap.servers"
    * -> ..., "subscribe" -> topic, "startingOffsets" -> "latest",
    * "maxOffsetsPerTrigger" -> "100000"))` — no operator changes
    * (this environment carries no Kafka connector, so only the file
    * formats are exercised by specs). `maxOffsetsPerTrigger` /
    * `maxFilesPerTrigger` is the backpressure bound that keeps one
    * micro-batch within cluster memory at production volume. */
  def readStreamSource(spark: SparkSession, format: String,
                       options: Map[String, String],
                       schema: Option[StructType] = None): DataFrame = {
    val r = spark.readStream.format(format).options(options)
    schema.foreach(r.schema)
    r.load()
  }
}
