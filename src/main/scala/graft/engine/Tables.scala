package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-set loading and catalog registration.
  *
  * The reference's only collection abstraction is a named table set
  * (`Dict[table_name, DataFrame]` — /root/reference/ETL_Pipeline_Entire/
  * transformations_code.py:60-72). Here a table set is `Map[String, DataFrame]`
  * backed by one parquet directory per layer; registering every table as a
  * temp view gives `spark.sql` the same catalog the reference's MySQL layer
  * provided (front_end.py:215-225).
  *
  * Scale note: each table is a parquet directory scan — Spark parallelizes by
  * row-group/file split (`spark.sql.files.maxPartitionBytes`), so the same
  * code path serves 6k rows locally and 100 TB on a cluster. Loading is lazy;
  * nothing is read until an action runs, and Catalyst prunes columns/pushes
  * filters into each scan.
  */
object Tables {

  /** All driver-testdata tables (TESTDATA.md + FIXTURES.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns under the epoch-nanos contract, per table. Other timestamp
    * columns (o_orderdate, l_shipdate) keep their native TimestampType —
    * queries use them with date functions directly.
    */
  private val nanosContract: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  /** S1 full scan: one table from a layer directory.
    *
    * Timestamp columns surface as epoch-NANOS int64, whatever the parquet
    * physical type. Parquet TIMESTAMP(NANOS) has no lossless TimestampType
    * representation (Spark is µs), so it is read as raw int64 nanos
    * (legacy.parquet.nanosAsLong); TIMESTAMP(MICROS) — what the driver's
    * pandas writer emits for events.ts since r11 — reads as
    * TIMESTAMP_NTZ/TIMESTAMP and is converted to nanos by
    * [[normalizeTimestamps]] (exact: µs·1000 is far inside long range).
    * One contract for every consumer; those needing a timestamp view use
    * [[nanosToTimestamp]] explicitly (lossy below µs, exact here).
    *
    * Scale note: the conversion is a narrow per-row projection appended to
    * the scan; filters on OTHER columns still push to parquet. No query
    * filters on raw `ts` at scan time (watermark predicates key on
    * `event_id`), so nothing loses pushdown — if one ever does, filter on
    * the timestamp column before calling normalize.
    */
  /** Per-JVM parquet-schema cache (optimization r21, guide §6 — the
    * file-listing-cache class of fix, and the artifact store's
    * `_schemas` discipline applied to the table layer): every
    * schema-less `spark.read.parquet` runs a footer-reading Spark job
    * (`mergeSchemasInParallel`), and plan CONSTRUCTION re-runs it per
    * call — the bench pays it for every table reference of every rep
    * of every query, and on an object store each one is a round-trip
    * before the real read starts. The layer directories are immutable
    * inputs (the driver contract), so the first read's inferred schema
    * is pinned per (absolute path) and later reads pass it explicitly
    * — zero inference jobs. This caches METADATA only; every action
    * still reads the parquet bytes.
    *
    * The key carries a name:size:mtime listing digest of the path (the
    * SparkEntry.corpusKey discipline), NOT the bare path: Pipeline
    * re-reads layer directories it has just rewritten, and a
    * path-keyed entry would serve the PREVIOUS write's schema. A
    * rewrite changes the listing, so it re-infers; stale entries for
    * superseded listings are bounded by rewrites per JVM.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  /** The cache key of `path`: its qualified URI plus a digest of every
    * file's relative path, size and mtime under it. Listed through the
    * session's Hadoop `FileSystem`, like every read and write of the
    * layer: a `file:`/`hdfs://`/`s3a://` URI names no local
    * `java.io.File`, and a local-file walk gave every such path one
    * constant empty listing, so a rewritten table kept serving its
    * first schema. None when the path does not exist, so the read
    * fails with Spark's own error and nothing is cached.
    */
  private def listingKey(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(st)
    val files =
      try walk(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => return None }
    val prefix = root.toString
    val listing = files
      .map(f => s"${f.getPath.toString.stripPrefix(prefix)}:${f.getLen}:" +
        s"${f.getModificationTime}")
      .mkString("|")
    Some(prefix + "#" + java.util.Arrays.hashCode(
      java.security.MessageDigest.getInstance("MD5")
        .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }

  /** Schema-cached parquet read of an immutable-while-referenced path
    * (the [[schemaCache]] note): first read infers and pins, later
    * reads of the SAME listing pass the schema explicitly — zero
    * inference jobs. A rewritten path re-infers (listing-keyed). Also
    * serves the artifact store's loaders, whose serve rows otherwise
    * pay one inference job per evaluation.
    */
  def parquetCached(spark: SparkSession, path: String): DataFrame =
    listingKey(spark, path) match {
      case Some(key) =>
        val cached = schemaCache.get(key)
        if (cached != null) spark.read.schema(cached).parquet(path)
        else {
          val d = spark.read.parquet(path)
          schemaCache.put(key, d.schema)
          d
        }
      case None => spark.read.parquet(path)
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the nanosAsLong flag is session-scoped and Spark exposes no
    // per-read switch, so flipping it here unconditionally changed the
    // schema of UNRELATED parquet reads in the same session (a shared
    // application's TIMESTAMP(NANOS) columns silently became LongType —
    // code-review r14). Read plainly first; only a legacy int64-nanos
    // file (pre-r11 testdata, which fails schema conversion without the
    // flag) sets it — and then it must STAY set, because execution-time
    // footer conversion consults the same conf. (The failed first
    // attempt throws at inference, before anything is cached.)
    val path = s"$dir/$name.parquet"
    val df =
      try parquetCached(spark, path)
      catch {
        case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("TIMESTAMP(NANOS") ||
              m.contains("Illegal Parquet type")) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          parquetCached(spark, path)
      }
    normalizeTimestamps(df, nanosContract.getOrElse(name, Nil))
  }

  /** Rewrite the named timestamp-typed columns to epoch-nanos long
    * (exact: µs·1000). TIMESTAMP_NTZ is interpreted in UTC — the session
    * timezone every graft entrypoint pins — matching DuckDB's epoch_us()
    * of the same naive value. Columns already long (pre-r11 int64-nanos
    * parquet via nanosAsLong) pass through untouched, as do columns not
    * named; order is preserved.
    */
  def normalizeTimestamps(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(f => cols.contains(f.name)).foldLeft(df) {
      (acc, f) =>
        f.dataType match {
          case TimestampNTZType | TimestampType =>
            acc.withColumn(f.name,
              unix_micros(col(f.name).cast(TimestampType)) * lit(1000L))
          case _ => acc
        }
    }
  }

  /** Explicit lossy ns→µs timestamp view of an int64-nanos column.
    * Truncating division must NOT go through doubles: epoch-ns values are
    * ~1.7e18, far beyond double's 2^53 exact-integer range, so `/ 1000`
    * in double drifts by ±1 µs. Decimal division of a 19-digit value by
    * 1000 at scale 6 is exact; floor then truncates like DuckDB's
    * ns→µs parquet read.
    */
  def nanosToTimestamp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit, timestamp_micros}
    timestamp_micros(
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long"))
  }

  /** Run `f` over `items` on up to `min(items, defaultParallelism)`
    * threads and return the results in input order. A stage's per-table
    * work is a chain of small Spark jobs plus driver time between them
    * (planning, commit, listing); run one table after another, the
    * cores idle through each table's driver time.
    *
    * Each item runs through `SQLExecution.withThreadLocalCaptured`, the
    * path adaptive query execution submits its stages through: jobs
    * keep the caller's local properties (job group, description,
    * scheduler pool, any tracing key) and active session. Every call
    * gets its own threads, so a nested call cannot starve its parent.
    * One item, or one core, runs inline on the caller's thread.
    *
    * Waits for every item, then rethrows the first failure in input
    * order: nothing is still running when the call returns or throws.
    *
    * Only table-set work whose items touch nothing but Spark uses it.
    * [[Extraction.runJob]] stays serial: it calls `Store` methods from
    * the caller's thread, and a store (a JDBC connection included) is
    * not required to be thread-safe.
    */
  private[graft] def concurrently[A, B](spark: SparkSession, items: Seq[A])(
      f: A => B): Seq[B] = {
    val n = math.min(items.size, spark.sparkContext.defaultParallelism)
    if (n <= 1) return items.map(f)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r, "graft-concurrently")
      t.setDaemon(true)
      t
    })
    try {
      val futures = items.map(a =>
        org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, pool)(f(a)))
      val results = futures.map(fu => scala.util.Try(fu.join()))
      results.foreach {
        case scala.util.Failure(e: java.util.concurrent.CompletionException)
            if e.getCause != null => throw e.getCause
        case scala.util.Failure(e) => throw e
        case _ =>
      }
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** Load a whole layer as a table set. Lazy: no IO until an action.
    * Each table's schema resolution (a listing, plus a footer-reading
    * job the first time a listing is seen) runs [[concurrently]] with
    * the others, at most `defaultParallelism` tables at a time.
    */
  def load(spark: SparkSession, dir: String,
           names: Seq[String] = all): Map[String, DataFrame] =
    names.zip(concurrently(spark, names)(table(spark, dir, _))).toMap

  /** Register a table set as temp views so spark.sql resolves them (Q1). */
  def registerViews(tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** Convenience: load + register a layer, returning the set. */
  def open(spark: SparkSession, dir: String,
           names: Seq[String] = all): Map[String, DataFrame] = {
    val ts = load(spark, dir, names)
    registerViews(ts)
    ts
  }

  /** S4 catalog listing, as a DataFrame for UI parity (front_end.py:67-71). */
  def listTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().select("name").as[String]
      .collect().sorted.toSeq.toDF("table_name")
  }

  /** S7/S8 sinks: write a table to a layer dir (replace or append).
    * `mode(Overwrite)` is the reference's drop+recreate (data_extraction
    * .py:32-43); parquet keeps the schema with the data (S6 for free).
    */
  def write(df: DataFrame, dir: String, name: String,
            mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(s"$dir/$name.parquet")

  /** S10 bulk loader: write every table with a name prefix
    * (transformations_code.py:206-213). The tables' writes run
    * [[concurrently]], at most `defaultParallelism` at a time; each
    * carries the job description `writeAll <layer>/<table>`, so its
    * jobs say which table they write.
    * Returns once every write has finished; a failed write is rethrown
    * after the others have completed.
    */
  def writeAll(tables: Map[String, DataFrame], dir: String,
               prefix: String = ""): Unit =
    tables.headOption.foreach { case (_, first) =>
      val sc = first.sparkSession.sparkContext
      val layer = new org.apache.hadoop.fs.Path(dir).getName
      concurrently(first.sparkSession, tables.toSeq) { case (n, df) =>
        val out = if (prefix.isEmpty) n else s"${prefix}_$n"
        val before = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"writeAll $layer/$out")
        try write(df, dir, out)
        finally sc.setJobDescription(before)
      }
    }

  /** S9 CSV sink (mapping.py:183-185 store_dataset). Header on; still a
    * distributed write — one file per partition, `coalesce(1)` only if a
    * single file is genuinely required.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Hive-style partitioned sink: the 100 TB scan saver. A query filtering
    * on a partition column prunes whole directories at PLANNING time
    * (PartitionFilters in the scan node) — the dominant cost lever for a
    * large immutable corpus is never reading the data at all. Choose
    * low-cardinality columns (date, source, language); high-cardinality
    * partitioning creates the small-files problem [[compact]] exists for.
    */
  def writePartitioned(df: DataFrame, dir: String, name: String,
                       partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*)
      .parquet(s"$dir/$name.parquet")

  /** Hive-style partition columns of a table directory, read from the
    * `col=value` subdirectory names — the rewrite ops ([[compact]],
    * [[upsert]]) must preserve the layout or they'd silently destroy
    * partition pruning.
    */
  private def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
                              path: org.apache.hadoop.fs.Path): Seq[String] = {
    def walk(p: org.apache.hadoop.fs.Path, acc: List[String]): List[String] =
      fs.listStatus(p).find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(d) => walk(d.getPath, d.getPath.getName.split("=")(0) :: acc)
        case None => acc
      }
    walk(path, Nil).reverse
  }

  /** Rewrite a table directory from a new frame, preserving any hive
    * partition layout, swapping in through a temp directory. Callers
    * pass the partition columns they already walked ([[compact]] needs
    * them for its repartition shape) so the recursive listing isn't
    * paid twice per rewrite — per-listing-billed object stores make
    * that a real cost (code-review r14). Both swap steps CHECK their
    * boolean results: an ignored failed rename after a successful
    * delete is silent table loss — the data stranded in the hidden tmp
    * dir with no error raised (and on HDFS a rename onto a recreated
    * live dir NESTS tmp inside it instead of replacing).
    */
  private def rewriteDir(spark: SparkSession, dir: String, name: String,
                         df: DataFrame,
                         fs: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path,
                         partCols: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.$name.rewrite.tmp")
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(tmp.toString)
    require(fs.delete(path, true) || !fs.exists(path),
      s"table rewrite at $path: could not delete the old directory — " +
        s"the rewritten data is intact at $tmp")
    require(fs.rename(tmp, path),
      s"table rewrite at $path: rename from $tmp failed (concurrent " +
        s"writer recreated the target?) — the rewritten data is at $tmp, " +
        "the old directory is gone; restore by moving it into place")
  }

  /** MERGE-style upsert: incoming rows replace existing rows that share
    * their key, new keys append — the silver-layer maintenance op that
    * plain replace/append sinks can't express over immutable parquet.
    * Rewrite = existing anti-joined against incoming keys, union
    * incoming, swap in through a temp directory; hive partition layout
    * is preserved. At 100 TB this is the full-rewrite pattern; pair
    * with [[writePartitioned]] and key the table so only affected
    * partitions need rewriting.
    */
  def upsert(spark: SparkSession, dir: String, name: String,
             incoming: DataFrame, keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged = spark.read.parquet(path.toString)
      .join(incoming.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(incoming)
    rewriteDir(spark, dir, name, merged, fs, path,
      partitionColsOf(fs, path))
  }

  /** Small-files compaction: rewrite a table directory into files of
    * roughly `targetFileBytes`. Long-running ingestion (streaming sinks,
    * per-batch appends) accumulates files far smaller than a parquet
    * row group; at scale, scan planning and the namenode/object-store
    * listing pay per file, not per byte. Sizing is derived from the
    * actual on-disk footprint, the rewrite goes through a temp directory
    * and swaps in atomically-enough (rename), and the data itself is
    * unchanged. Returns the resulting partition-file count.
    */
  def compact(spark: SparkSession, dir: String, name: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.spark.sql.functions.col
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val read = spark.read.parquet(path.toString)
    val partCols = partitionColsOf(fs, path)
    // hive-partitioned layout: repartition BY the partition columns, so
    // each partition value lands whole in one task and partitionBy
    // writes one file per value. A round-robin repartition(nFiles) here
    // would spread every value across every task and the rewrite would
    // emit up to nFiles × nValues files — compaction MULTIPLYING the
    // small-files count (code-review r13). The cost is one file per
    // value even for an oversized value; re-partition the table on a
    // finer key if single values outgrow the target.
    val sized =
      if (partCols.nonEmpty) read.repartition(nFiles, partCols.map(col): _*)
      else read.repartition(nFiles)
    rewriteDir(spark, dir, name, sized, fs, path, partCols)
    // report the REAL resulting data-file count, not the task count
    def count(p: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listStatus(p)
      it.map { st =>
        if (st.isDirectory) count(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    count(path)
  }

  /** S11 database reset (front_end.py:850-859): drop & recreate the layer
    * directories — the parquet analogue of DROP DATABASE + CREATE DATABASE.
    * Through the HADOOP filesystem, not java.io.File: reads and writes
    * resolve layer paths via Hadoop, so a java.io probe on an
    * `hdfs://`/`s3a://` layer URI silently no-ops the reset and stale
    * tables survive and keep resolving (code-review r14 — the exact
    * failure class StorePath documents). A fully-qualified Path carries
    * its scheme, so the default Configuration resolves the right FS;
    * failures are loud, not discarded booleans.
    */
  def resetLayers(dirs: Seq[String]): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    // the ACTIVE session's hadoopConfiguration, not a bare
    // Configuration(): fs.defaultFS / object-store credentials set only
    // via spark.hadoop.* would otherwise resolve a scheme-less layer
    // path to file:/// and 'reset' a local directory while reads keep
    // resolving the real one (code-review r14)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    require(!fs.exists(p) || fs.delete(p, true),
      s"resetLayers: could not delete $d")
    require(fs.mkdirs(p), s"resetLayers: could not recreate $d")
  }
}
