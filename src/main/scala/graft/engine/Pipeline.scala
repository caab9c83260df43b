package graft.engine

import org.apache.spark.sql.SparkSession
import graft.engine.Aggregations.AggSpec

/** O1/O4: config-driven pipeline sequencing
  * (/root/reference/ETL_Pipeline_Entire/scheduler.py:185-209, 58-103) —
  * extraction → mapping → transformation → aggregation over parquet layer
  * directories, mirroring the reference's four JSON config files and its
  * medallion layers (raw → silver_mapping → silver → gold).
  *
  * Stage boundaries materialize to parquet for replayability (the
  * reference's status-file gating); within a stage everything stays lazy so
  * Catalyst fuses the selected transforms into one codegen'd pass.
  *
  * Within a stage the tables are independent, so their per-table work
  * runs concurrently ([[Tables.concurrently]], at most `defaultParallelism`
  * tables at a time): schema resolution in [[Tables.load]], the
  * [[Transforms.imputeNulls]] census in [[Transforms.transformAll]], and
  * one parquet write per table in [[Tables.writeAll]]. Each table is a
  * chain of small jobs plus driver time between them (planning, commit,
  * listing); run one after another, the cores idle through that driver
  * time. Extraction stays serial: [[Extraction.runJob]] calls `Store`
  * methods from the caller's thread, and a store (a JDBC connection
  * included) is not required to be thread-safe.
  * Time-based scheduling (O2/O3) is driver-side orchestration outside the
  * engine core; the streaming-native upgrade path for recurring incremental
  * loads is graft.streaming.IncrementalStream.
  */
object Pipeline {

  /** The four config files, as one case class tree.
    * - extraction: per-table mode (extraction.json)
    * - mappingEnabled: O4 on/off switch (mapping_status.json)
    * - transforms: selected transform display names in application order
    *   (selected_transformations.json)
    * - aggregations: per-table A1 specs (selected_aggregation_parameters.json)
    */
  case class Config(
    extraction: Seq[Extraction.TableJob] = Nil,
    mappingEnabled: Boolean = true,
    transforms: Seq[String] = Nil,
    aggregations: Map[String, AggSpec] = Map.empty,
    tableMeta: Map[String, Mapping.TableMeta] = Map.empty,
    // silver tables to ALSO publish as catalog tables bucketed by their
    // join key: table → (key, nBuckets). The repeated fact⋈fact join is
    // the dominant per-query shuffle of a star schema; bucketing at the
    // silver write pays it once at ingest (see [[Bucketing]])
    bucketBy: Map[String, (String, Int)] = Map.empty)

  /** Layer directories (the reference's five MySQL databases). */
  case class Layers(source: String, raw: String, silverMapping: String,
                    silver: String, gold: String)

  case class StageStatus(stage: String, ok: Boolean, detail: String)

  /** O1 full pipeline run: abort on stage failure like scheduler.py:185-209,
    * returning per-stage status (the JSON status files' content).
    */
  def run(spark: SparkSession, layers: Layers, cfg: Config): Seq[StageStatus] = {
    val statuses = scala.collection.mutable.ArrayBuffer.empty[StageStatus]

    // 1. extraction: source → raw
    val extracted = Extraction.runJob(spark, layers.source, layers.raw,
      cfg.extraction)
    val failures = extracted.collect { case Left((t, e)) => s"$t: ${e.getMessage}" }
    statuses += StageStatus("extraction", failures.isEmpty,
      if (failures.isEmpty) s"${extracted.size} tables" else failures.mkString("; "))
    if (failures.nonEmpty) return statuses.toSeq

    val rawNames = cfg.extraction.map(_.table)
    val raw = Tables.load(spark, layers.raw, rawNames)

    // Stages 2-4 each get their OWN status + abort boundary — like
    // extraction, and like the reference's per-stage try/except status
    // files. One shared catch here used to attribute a stage-4
    // aggregation failure to "transformation" even though every silver
    // transform output had been written (code-review r13), so a replay
    // gate driven by these statuses would re-run the wrong stage.
    def stage(name: String)(body: => String): Boolean =
      try { statuses += StageStatus(name, ok = true, body); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          statuses += StageStatus(name, ok = false,
            Option(e.getMessage).getOrElse(e.toString))
          false
      }

    // 2. mapping: raw → silver_mapping (O4: off → verbatim copy,
    //    scheduler.py:62-103)
    var mapped = raw
    if (!stage("mapping") {
      mapped =
        if (cfg.mappingEnabled) Mapping.mergeTables(raw, cfg.tableMeta, rawNames)
        else raw
      Tables.writeAll(mapped, layers.silverMapping)
      if (cfg.mappingEnabled) s"${mapped.size} outputs" else "skipped (copy)"
    }) return statuses.toSeq

    // 3. transformation: silver_mapping → silver, prefix "transformed"
    //    (transformations_code.py:206-213 via scheduler.py:113-183),
    //    plus the bucketed-layout publication
    var transformed = Map.empty[String, org.apache.spark.sql.DataFrame]
    if (!stage("transformation") {
      val silverIn = Tables.load(spark, layers.silverMapping, mapped.keys.toSeq)
      transformed = Transforms.transformAll(silverIn, cfg.transforms)
      Tables.writeAll(transformed, layers.silver, prefix = "transformed")
      // bucketed-layout publication: the configured fact tables ALSO land
      // in the catalog pre-shuffled on their join key, so downstream
      // star queries join them with zero Exchange on the fact edge. A
      // bucketBy name with no silver table (typo, or a table that never
      // reached this stage) fails HERE, at the config boundary — a
      // silent skip would surface later as table-not-found far from the
      // cause, or worse, as the per-query shuffle quietly coming back
      val unknown = cfg.bucketBy.keySet -- transformed.keySet
      require(unknown.isEmpty,
        s"bucketBy names ${unknown.mkString(", ")} have no silver table " +
          s"(available: ${transformed.keys.toSeq.sorted.mkString(", ")})")
      for ((name, (key, buckets)) <- cfg.bucketBy)
        Bucketing.writeBucketed(transformed(name),
          s"silver_${name}_bucketed", key, buckets)
      s"${transformed.size} transformed" +
        (if (cfg.bucketBy.nonEmpty) s", ${cfg.bucketBy.size} bucketed" else "")
    }) return statuses.toSeq

    // 4. aggregation: per-table A1, prefix "agg" (scheduler.py:143-170);
    //    ineligible specs skip (A3 guard), like the reference.
    //    Aggregate the transformed_* PARQUET stage 3 just wrote, not the
    //    in-memory transform plans: the lazy plans re-execute the whole
    //    scan + transform chain (incl. the dedup shuffle) once per
    //    aggregated table — the stage-boundary materialization exists
    //    precisely so each stage pays its inputs once (code-review r14)
    stage("aggregation") {
      // PER-TABLE error isolation (front_end.py:488-496's try/except):
      // one table's bad spec — e.g. funcs=Seq("avg"), the natural Spark
      // spelling of the supported "mean" — used to throw out of
      // aggregate() and fail the WHOLE stage, silently losing every
      // valid table's aggregates; the reference errors that one table
      // and aggregates the rest (code-review r14)
      val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
      val aggregated = for {
        (name, spec) <- cfg.aggregations
        if transformed.contains(name)
        df = Tables.table(spark, layers.silver, s"transformed_$name")
        out <- (try Aggregations.aggregate(df, spec)
                catch { case scala.util.control.NonFatal(e) =>
                  skipped += s"$name: ${e.getMessage}"
                  None
                })
      } yield name -> out
      Tables.writeAll(aggregated, layers.silver, prefix = "agg")
      s"${aggregated.size} aggregated" +
        (if (skipped.isEmpty) "" else s"; errors: ${skipped.mkString("; ")}")
    }
    statuses.toSeq
  }
}
