package graft

import graft.engine._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, udf}

/** Per-table fan-out inside a stage: `Tables.load`,
  * `Transforms.transformAll` and `Tables.writeAll` run their tables
  * through `Tables.concurrently`. Pins what the fan-out must keep: the
  * caller's local properties on every job, nothing still running when a
  * failure is reported, one label per written table, and fresh schemas
  * for rewritten URI-qualified layer paths.
  */
class TablesFanOutSpec extends SparkSpecBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** Every job started while installed: id → local properties, plus the
    * ended ids and each SQL execution's physical plan text.
    */
  private class JobLog extends SparkListener {
    val started = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Properties]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.put(e.jobId, Option(e.properties).getOrElse(new java.util.Properties)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      ended.add(e.jobId): Unit
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans.put(s.executionId, s.physicalPlanDescription): Unit
      case _ =>
    }
    def jobs: Map[Int, java.util.Properties] = started.asScala.toMap
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)

  private def logging[T](body: JobLog => T): T = {
    drain()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try body(log)
    finally { drain(); spark.sparkContext.removeSparkListener(log) }
  }

  test("concurrently: input-order results, nested calls wider than the " +
       "pool finish") {
    val n = spark.sparkContext.defaultParallelism * 2
    val got = Tables.concurrently(spark, 1 to n) { i =>
      Tables.concurrently(spark, 1 to n)(j => i * j).sum
    }
    assert(got == (1 to n).map(i => i * n * (n + 1) / 2))
  }

  test("parquetCached re-reads the schema of a rewritten file: URI table") {
    val dir = new java.io.File(tmpDir("fanout-uri")).toURI.toString
      .stripSuffix("/")
    assert(dir.startsWith("file:"))
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    Seq((1L, "a", 2.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "v", "w"),
      "a rewritten file: table served its first write's schema")
    assert(again.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
  }

  test("writeAll: a failing table's error is rethrown only after every " +
       "other write is complete") {
    val dir = tmpDir("fanout-fail")
    // the good tables' tasks outlast the failing one, so a fan-out that
    // rethrew at the first failure would leave their writes running
    val slow = udf { (x: Long) => Thread.sleep(300); x }
    val good = spark.range(0, 8, 1, 4).select(slow(col("id")).as("id"))
    val bad = spark.range(0, 8, 1, 4).select((col("id") / (col("id") - col("id"))).as("q"))
    logging { log =>
      val e = intercept[Throwable] {
        Tables.writeAll(Map("bad" -> bad, "good1" -> good, "good2" -> good), dir)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(x => Option(x.getMessage).exists(_.contains("DIVIDE_BY_ZERO"))),
        e.toString)
      for (t <- Seq("good1", "good2")) {
        assert(new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists(), t)
        assert(spark.read.parquet(s"$dir/$t.parquet").count() == 8, t)
      }
      drain()
      val started = log.jobs.keySet
      assert(started.nonEmpty)
      assert(started.forall(log.ended.contains),
        s"jobs still running after writeAll threw: ${started -- log.ended.asScala}")
    }
  }

  test("load, transformAll and writeAll jobs carry the caller's job group " +
       "and local properties") {
    val in = tmpDir("fanout-props-in"); val out = tmpDir("fanout-props-out")
    // fresh directories: load pays one schema-inference job per table
    Seq((1L, Option(2.0)), (2L, None)).toDF("id", "x").write.parquet(s"$in/a.parquet")
    Seq((1L, Option(5.0)), (3L, None)).toDF("id", "y").write.parquet(s"$in/b.parquet")
    Seq((4L, Option(1.5)), (5L, None)).toDF("id", "z").write.parquet(s"$in/c.parquet")
    val sc = spark.sparkContext
    logging { log =>
      sc.setJobGroup("fanout-group", "fan-out test", interruptOnCancel = false)
      sc.setLocalProperty("graft.test.caller", "fanout")
      try {
        val loaded = Tables.load(spark, in, Seq("a", "b", "c"))
        val imputed = Transforms.transformAll(loaded, Seq("Impute Nulls"))
        Tables.writeAll(imputed, out, prefix = "transformed")
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.test.caller", null)
      }
      drain()
      val jobs = log.jobs
      // ≥ 3 inference + 3 census + 3 write jobs
      assert(jobs.size >= 9, jobs.size)
      for ((id, p) <- jobs) {
        assert(p.getProperty("spark.jobGroup.id") == "fanout-group", s"job $id")
        assert(p.getProperty("graft.test.caller") == "fanout", s"job $id")
      }
    }
    assert(spark.read.parquet(s"$out/transformed_b.parquet").collect()
      .map(_.getDouble(1)).toSet == Set(5.0))
  }

  test("every job of a Pipeline.run write stage names the table it writes") {
    val src = tmpDir("fanout-src"); val raw = tmpDir("fanout-raw")
    val sm = tmpDir("fanout-sm"); val silver = tmpDir("fanout-silver")
    Seq((1L, "Ada  ", "London"), (2L, "Alan", "Wilmslow"))
      .toDF("customer_id", "name", "city").write.parquet(s"$src/customers.parquet")
    Seq((10L, 1L, 100.0), (11L, 1L, 150.0), (12L, 2L, 99.0))
      .toDF("order_id", "customer_id", "total").write.parquet(s"$src/orders.parquet")
    Seq((7L, "x"), (7L, "x")).toDF("k", "v").write.parquet(s"$src/solo.parquet")
    logging { log =>
      val statuses = Pipeline.run(spark,
        Pipeline.Layers(src, raw, sm, silver, tmpDir("fanout-gold")),
        Pipeline.Config(
          extraction = Seq("customers", "orders", "solo")
            .map(Extraction.TableJob(_, "Full Refresh")),
          transforms = Seq("Remove Duplicates", "Trim Whitespace")))
      assert(statuses.forall(_.ok), statuses.mkString("; "))
      drain()
      // the transformation stage's writes: SQL executions whose plan is
      // a parquet insert into the silver layer
      val target = (java.util.regex.Pattern.quote(silver) +
        """/(transformed_\w+)\.parquet""").r
      val written = log.plans.asScala.toMap.flatMap { case (id, plan) =>
        if (!plan.contains("InsertIntoHadoopFsRelationCommand")) None
        else target.findFirstMatchIn(plan).map(m => id -> m.group(1))
      }
      assert(written.values.toSet == Set("transformed_customers_orders_merged",
        "transformed_solo"), log.plans.asScala.values.mkString("\n"))
      val writeJobs = log.jobs.toSeq.flatMap { case (job, p) =>
        Option(p.getProperty("spark.sql.execution.id"))
          .flatMap(x => written.get(x.toLong)).map(t => (job, t, p))
      }
      assert(writeJobs.map(_._2).toSet == written.values.toSet)
      for ((job, table, p) <- writeJobs) {
        val desc = Option(p.getProperty("spark.job.description")).getOrElse("")
        assert(desc.contains(table), s"job $job writing $table is labelled '$desc'")
      }
    }
  }
}
