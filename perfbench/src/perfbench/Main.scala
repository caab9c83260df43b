package perfbench

import java.io.{BufferedReader, File, InputStreamReader}

import scala.util.control.NonFatal

import graft.engine.GraftSession
import graft.northstar.Dedup

/** JVM side of the benchmark. Speaks line-delimited JSON with the
  * harness: every record it emits is one stdout line prefixed `@@PB `;
  * before each op it reads one command line from stdin (`{"cmd":"next",
  * ...}` or `{"cmd":"stop"}`), so the harness can stage inputs and check
  * the previous op's outputs while the clock is stopped.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --cores N
  *          --setup-reps N --trace 0|1
  */
object Main {
  private def emit(fields: (String, Any)*): Unit = {
    println("@@PB " + Json.render(Json.obj(fields: _*)))
    Console.out.flush()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val input = new File(opt("input"))

    val t0 = System.nanoTime()
    val spark = GraftSession.local(opt("cores").toInt, "perfbench")
    val sessionS = secs(t0)
    val tracer = new Tracer(spark)
    val w: Workload = name match {
      case "medallion_full" => new MedallionFull(spark, tracer, input)
      case "incremental_jdbc" => new IncrementalJdbc(spark, tracer, input)
      case "analyst_sql" => new AnalystSql(spark, tracer, input)
      case "corpus_refresh" => new CorpusRefresh(spark, tracer, input)
      case other => sys.error(s"unknown workload $other")
    }
    // each repetition sets up from scratch in its own directory; the
    // last one serves the timed window
    val setups = (0 until opt("setup-reps").toInt).map { r =>
      if (w.dir != null) deleteTree(w.dir)
      w.dir = new File(work, s"rep$r")
      val t = System.nanoTime()
      w.setup()
      secs(t)
    }
    emit("ev" -> "setup", "session_s" -> sessionS, "setup_s" -> setups,
      "dir" -> w.dir.toString)

    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    var op = 0
    var cmd = Json.parse(Option(in.readLine()).getOrElse("{}"))
    while (cmd.path("cmd").asText == "next") {
      w.prepare(op, cmd)
      // traced runs alternate traced and untraced ops, so the tracing
      // overhead is measured on the same inputs and JVM state
      val traced = trace && op % 2 == 1
      tracer.beginOp(op, name, traced)
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val out =
        try w.run(op, cmd)
        catch { case NonFatal(e) => Map("failed" -> e.toString) }
      val lat = secs(t)
      tracer.endOp()
      Dedup.releasePersisted()
      val jobs = tracer.jobsOfOp(op)
      emit("ev" -> "op", "op" -> op, "lat_s" -> lat, "start_ms" -> startMs,
        "traced" -> traced, "jobs" -> jobs.size, "out" -> out)
      op += 1
      cmd = Json.parse(Option(in.readLine()).getOrElse("{}"))
    }

    // unpersisted blocks and cleaned broadcasts are freed only after
    // their handles are collected: collect until the heap stops shrinking
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var heap = Long.MaxValue
    var rounds = 0
    while (rounds < 5 && mem.getHeapMemoryUsage.getUsed < heap) {
      heap = mem.getHeapMemoryUsage.getUsed
      System.gc()
      Thread.sleep(200)
      rounds += 1
    }
    heap = mem.getHeapMemoryUsage.getUsed
    if (trace) tracer.dump(new File(work, "trace"))
    emit("ev" -> "end", "heap_mb" -> heap / 1048576.0)
    spark.stop()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
