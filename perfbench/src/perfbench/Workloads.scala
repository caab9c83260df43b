package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine._
import graft.engine.Aggregations.AggSpec
import graft.engine.Pipeline.{Layers, StageStatus}
import graft.northstar.{Artifacts, Curation, Dedup, Ivf, Pq}
import graft.sources.{JdbcStore, ParquetStore, Store}

/** One closed-loop workload. `setup` runs once per set-up repetition
  * into a fresh directory (the last one serves the timed window);
  * `prepare` is untimed per-op staging; `run` is the timed op. A failed
  * op throws or returns `"failed" -> reason`.
  */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
                        val input: File) {
  var dir: File = _
  def setup(): Unit
  def prepare(op: Int, cmd: JsonNode): Unit = ()
  def run(op: Int, cmd: JsonNode): Map[String, Any]

  protected def path(parts: String*): String =
    parts.foldLeft(dir)(new File(_, _)).toString

  /** Spark's plan-phase timings of a frame's query, in seconds. */
  protected def planSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0

  /** Sql.runSql; an Error frame comes back as Left. */
  protected def runSql(sql: String): Either[String, DataFrame] = {
    val df = tracer.span("sql.runSql")(Sql.runSql(spark, sql))
    tracer.count("sql.plan_s", planSeconds(df))
    if (!df.columns.sameElements(Array("Error"))) Right(df)
    else {
      tracer.count("sql.error_frames", 1)
      tracer.markFailed("sql.runSql")
      Left(s"Error frame: ${df.head().getString(0)}")
    }
  }

  /** A natural-language question to SQL through the template generator. */
  protected def ask(question: String,
                    views: Map[String, DataFrame]): Either[String, String] = {
    val t = tracer
    val gen = t.span("template_sql.fromTables")(TemplateSqlGenerator.fromTables(views))
    val schema = t.span("sql.renderSchema")(Sql.renderSchema(views))
    val text = t.span("template_sql.generate")(gen.generate(question, schema))
    val sql = t.span("sql.extractSelect")(Sql.extractSelect(text))
    if (sql.isEmpty) t.markFailed("template_sql.generate")
    sql.toRight(s"no SQL for question: $question")
  }

  protected def collect(df: DataFrame): Seq[Seq[Any]] = {
    val got = tracer.span("sql.collect")(df.collect())
    tracer.count("sql.result_rows", got.length)
    rows(got)
  }

  protected def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)
}

/** The four-table e-commerce star every medallion workload extracts. */
object Star {
  val tables = Seq("customers", "orders", "order_items", "products")
  val metas = Map(
    "orders" -> Mapping.TableMeta(fk = Some("cust_id")),
    "order_items" -> Mapping.TableMeta(fk = Some("order_id")))
  val merged = Seq("customers_orders_merged", "orders_order_items_merged",
    "order_items_products_merged")
  val aggs = Map(
    "customers_orders_merged" -> AggSpec(Seq("city_customers"),
      Seq("ship_fee_orders"), Seq("sum", "count", "max")),
    "orders_order_items_merged" -> AggSpec(Seq("status_orders"),
      Seq("qty_order_items", "price_order_items"), Seq("sum", "min")),
    "order_items_products_merged" -> AggSpec(Seq("category_products"),
      Seq("qty_order_items"), Seq("sum", "mean", "count")))
  val silverNames: Seq[String] =
    merged.map("transformed_" + _) ++ merged.map("agg_" + _)

  def config(mode: String): Pipeline.Config = Pipeline.Config(
    extraction = tables.map(Extraction.TableJob(_, mode)),
    mappingEnabled = true, transforms = Transforms.names,
    aggregations = aggs, tableMeta = metas)

  def layers(source: String, dir: File): Layers = {
    def d(n: String) = new File(dir, n).toString
    Layers(source, d("raw"), d("silver_mapping"), d("silver"), d("gold"))
  }

  val GoldSql: String =
    """SELECT substr(order_date_orders, 1, 7) AS month,
      |       status_orders AS status, count(*) AS n_orders,
      |       sum(ship_fee_orders) AS fees
      |FROM transformed_customers_orders_merged
      |GROUP BY substr(order_date_orders, 1, 7), status_orders""".stripMargin

  /** The question asked after every medallion run. */
  val Question =
    "total ship_fee_orders by status_orders in transformed_customers_orders_merged"

  /** [[Pipeline.run]]'s stage order, call for call, with a span around
    * each public call: the traced twin of an untraced run, which must
    * write hash-identical layers.
    */
  def replay(spark: SparkSession, t: Tracer, layers: Layers,
             cfg: Pipeline.Config): Seq[StageStatus] = {
    val statuses = ArrayBuffer.empty[StageStatus]
    val extracted = t.span("extraction.runJob", "extraction") {
      Extraction.runJob(spark, new TimedStore(ParquetStore(layers.source), t),
        new TimedStore(ParquetStore(layers.raw), t), cfg.extraction)
    }
    extracted.foreach(_.foreach(r => t.count("extraction.rows_out", r.rows)))
    val failures = extracted.collect { case Left((n, e)) => s"$n: ${e.getMessage}" }
    statuses += StageStatus("extraction", failures.isEmpty, failures.mkString("; "))
    if (failures.nonEmpty) { t.markFailed("extraction.runJob"); return statuses.toSeq }
    val rawNames = cfg.extraction.map(_.table)
    val raw = t.span("tables.load")(Tables.load(spark, layers.raw, rawNames))

    def stage(name: String)(body: => String): Boolean =
      try { statuses += StageStatus(name, ok = true, body); true }
      catch {
        case NonFatal(e) =>
          statuses += StageStatus(name, ok = false, String.valueOf(e.getMessage))
          false
      }

    var mapped = raw
    if (!stage("mapping") {
      mapped = t.span("mapping.mergeTables")(
        Mapping.mergeTables(raw, cfg.tableMeta, rawNames))
      t.span("tables.writeAll", "mapping")(
        Tables.writeAll(mapped, layers.silverMapping))
      s"${mapped.size} outputs"
    }) return statuses.toSeq

    var transformed = Map.empty[String, DataFrame]
    if (!stage("transformation") {
      val silverIn = t.span("tables.load")(
        Tables.load(spark, layers.silverMapping, mapped.keys.toSeq))
      transformed = t.span("transforms.transformAll")(
        Transforms.transformAll(silverIn, cfg.transforms))
      t.span("tables.writeAll", "transforms")(
        Tables.writeAll(transformed, layers.silver, prefix = "transformed"))
      s"${transformed.size} transformed"
    }) return statuses.toSeq

    stage("aggregation") {
      val aggregated = for {
        (name, spec) <- cfg.aggregations
        if transformed.contains(name)
        df = t.span("tables.table")(
          Tables.table(spark, layers.silver, s"transformed_$name"))
        out <- {
          val o = t.span("aggregations.aggregate")(Aggregations.aggregate(df, spec))
          t.count(if (o.isDefined) "aggregations.specs_applied"
                  else "aggregations.specs_skipped", 1)
          o
        }
      } yield name -> out
      t.span("tables.writeAll", "aggregations")(
        Tables.writeAll(aggregated, layers.silver, prefix = "agg"))
      s"${aggregated.size} aggregated"
    }
    statuses.toSeq
  }
}

/** Full-refresh medallion run, a gold query and its save, then one
  * natural-language question.
  */
final class MedallionFull(spark: SparkSession, tracer: Tracer, input: File)
    extends Workload(spark, tracer, input) {
  private val cfg = Star.config("Full Refresh")
  private def layers = Star.layers(new File(input, "source").toString, dir)

  def setup(): Unit = Tables.resetLayers(Seq(path("raw"),
    path("silver_mapping"), path("silver"), path("gold")))

  def run(op: Int, cmd: JsonNode): Map[String, Any] = {
    val t = tracer
    val statuses =
      if (t.traced) Star.replay(spark, t, layers, cfg)
      else Pipeline.run(spark, layers, cfg)
    val bad = statuses.filterNot(_.ok)
    if (bad.nonEmpty || statuses.size != 4)
      return Map("failed" -> s"stages: ${statuses.mkString("; ")}")
    val views = t.span("tables.open")(
      Tables.open(spark, layers.silver, Star.silverNames))
    val out = for {
      gold <- runSql(Star.GoldSql)
      _ = t.span("sql.saveGold")(Sql.saveGold(gold, layers.gold, "gold_monthly"))
      // the interactive follow-up: one natural-language question over the
      // fresh silver tables
      sql <- ask(Star.Question, views)
      answer <- runSql(sql)
    } yield Map("silver" -> layers.silver, "gold" -> layers.gold,
      "answer_columns" -> answer.columns.toSeq, "answer" -> collect(answer))
    out.fold(e => Map("failed" -> e), identity)
  }
}

/** One scheduled incremental cycle from Derby into the parquet raw layer;
  * between cycles, untimed, the generated delta is appended to Derby.
  */
final class IncrementalJdbc(spark: SparkSession, tracer: Tracer, input: File)
    extends Workload(spark, tracer, input) {
  private val jobs =
    Star.tables.map(Extraction.TableJob(_, "Incremental Load"))
  private var store: JdbcStore = _
  private var dbPath: String = _

  private def jdbc(dbDir: String) = JdbcStore(s"jdbc:derby:$dbDir;create=true",
    props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver"))

  def setup(): Unit = {
    // the previous repetition's database is closed before its files go
    if (dbPath != null) shutdown(dbPath)
    dbPath = path("db")
    store = jdbc(dbPath)
    Star.tables.foreach(n => store.write(
      spark.read.parquet(new File(input, s"source/$n.parquet").toString), n,
      "overwrite"))
    val first = Extraction.runJob(spark, store, ParquetStore(path("raw")), jobs)
    first.collectFirst { case Left((n, e)) =>
      throw new IllegalStateException(s"initial load of $n failed", e) }
  }

  private def shutdown(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () } // a clean shutdown throws

  override def prepare(op: Int, cmd: JsonNode): Unit =
    Star.tables.foreach(n => store.write(spark.read.parquet(
      new File(input, s"delta/$op/$n.parquet").toString), n, "append"))

  def run(op: Int, cmd: JsonNode): Map[String, Any] = {
    val t = tracer
    def timed(s: Store): Store = if (t.traced) new TimedStore(s, t) else s
    val res = t.span("extraction.runJob", "extraction")(Extraction.runJob(
      spark, timed(store), timed(ParquetStore(path("raw"))), jobs))
    val lefts = res.collect { case Left((n, e)) => s"$n: $e" }
    if (lefts.nonEmpty) {
      t.markFailed("extraction.runJob")
      return Map("failed" -> lefts.mkString("; "))
    }
    val pulled = res.collect { case Right(r) => r.table -> r.rows }.toMap
    t.count("extraction.rows_out", pulled.values.sum)
    Map("raw" -> path("raw"), "pulled" -> pulled)
  }
}

/** Seeded SQL over a silver layer built once at set-up: templates,
  * natural-language questions and gold saves.
  */
final class AnalystSql(spark: SparkSession, tracer: Tracer, input: File)
    extends Workload(spark, tracer, input) {
  private var views = Map.empty[String, DataFrame]

  def setup(): Unit = {
    val layers = Star.layers(new File(input, "source").toString, dir)
    val st = Pipeline.run(spark, layers, Star.config("Full Refresh"))
    require(st.size == 4 && st.forall(_.ok), s"silver build failed: $st")
    views = Tables.open(spark, layers.silver, Star.silverNames)
  }

  def run(op: Int, cmd: JsonNode): Map[String, Any] = {
    val out = for {
      sql <- Option(cmd.get("question")).map(_.asText)
        .fold[Either[String, String]](Right(cmd.get("sql").asText))(ask(_, views))
      df <- runSql(sql)
    } yield {
      val got = collect(df)
      val saved = Option(cmd.get("save")).map(_.asText).map { name =>
        tracer.span("sql.saveGold")(Sql.saveGold(df, path("gold"), name))
        path("gold", s"$name.parquet")
      }
      Map("sql" -> sql, "columns" -> df.columns.toSeq, "rows" -> got,
        "saved" -> saved)
    }
    out.fold(e => Map("failed" -> e), identity)
  }
}

/** Incoming document batches against a stored corpus: near-duplicate
  * screen, curation, IVF-PQ append and a served kNN query batch.
  */
final class CorpusRefresh(spark: SparkSession, tracer: Tracer, input: File)
    extends Workload(spark, tracer, input) {
  private val Cells = 8
  private val MaxCell = 100000
  private val curation = Curation.CurationConfig(langs = Some(Seq("en", "de")))
  private var centroids: Array[Array[Float]] = _
  private var codebooks: Array[Array[Array[Float]]] = _

  private def corpusDir = path("corpus")
  private def indexPath = path("ivfpq")

  def setup(): Unit = {
    val docs = spark.read.parquet(new File(input, "corpus/docs.parquet").toString)
    Tables.write(docs, corpusDir, "docs")
    val stored = Tables.table(spark, corpusDir, "docs")
    Tables.write(Dedup.bandIndex(stored.select("doc_id", "text")), dir.toString,
      "band_index")
    val emb = stored.select(col("doc_id").as("vec_id"), col("embedding"))
    centroids = Ivf.fitCentroids(emb, nCells = Cells)
    codebooks = Pq.fitCodebooks(emb, m = 8, ksub = 16)
    Artifacts.saveIvfPqIndex(emb, indexPath, centroids, codebooks, "vec_id",
      "embedding", MaxCell)
    Dedup.releasePersisted()
  }

  def run(op: Int, cmd: JsonNode): Map[String, Any] = {
    val t = tracer
    val incoming = spark.read.parquet(new File(input, s"batch/$op.parquet").toString)
    val queries = spark.read.parquet(new File(input, s"queries/$op.parquet").toString)
    val texts = t.span("tables.table")(Tables.table(spark, corpusDir, "docs"))
      .select("doc_id", "text")
    val band = t.span("tables.table")(Tables.table(spark, dir.toString, "band_index"))
    val pairs = t.span("dedup.minhashPairsAgainstIndex")(
      Dedup.minhashPairsAgainstIndex(incoming.select("doc_id", "text"), band,
        texts).select("doc_a", "doc_b").collect())
    val dups = pairs.map(_.getLong(0)).distinct
    t.count("dedup.candidate_pairs", pairs.length)
    t.count("dedup.dups_found", dups.length)
    val fresh = incoming.filter(!col("doc_id").isin(dups.toSeq: _*))
    val kept = t.span("curation.run")(Curation.run(fresh, curation)
      .select("doc_id").collect()).map(_.getLong(0))
    val survivors = incoming.filter(col("doc_id").isin(kept.toSeq: _*))
    t.span("tables.write")(Tables.write(survivors, corpusDir, "docs", "append"))
    val emb = t.span("tables.table")(Tables.table(spark, corpusDir, "docs"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val splits = t.span("artifacts.appendIvfPqIndex")(Artifacts.appendIvfPqIndex(
      survivors.select(col("doc_id").as("vec_id"), col("embedding")), emb,
      indexPath, centroids, codebooks, maxCell = MaxCell))
    val (index, _) = t.span("artifacts.loadIvfPqIndex")(Artifacts.loadIvfPqIndex(
      spark, indexPath, centroids, codebooks, maxCell = MaxCell,
      knownSplits = Some(splits)))
    val top = t.span("pq.ivfPqServeTopK")(Pq.ivfPqServeTopK(queries, index, emb,
      centroids, splits, codebooks, k = 10)
      .select("query_id", "neighbor_id").collect())
    Map("dups" -> dups.sorted.toSeq, "kept" -> kept.sorted.toSeq,
      "index" -> indexPath, "topk" -> rows(top))
  }
}
