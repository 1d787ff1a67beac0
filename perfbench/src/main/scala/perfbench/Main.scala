package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** The benchmark's JVM side: runs one workload against the engine's
  * public API and writes raw measurements (one record per operation) as
  * JSON for `perfbench/run.py`, which computes the statistics.
  *
  * Usage: `perfbench.Main key=value ...` with keys `workload`, `seed`,
  * `trace` (0|1), `data` (input dir), `work` (scratch dir), `out`
  * (result file), `cores`,
  * `list` (registry rows), `expected` (expected hashes or counts), and
  * `mode=dump` with `dump=<dir>` to write every result for deriving the
  * expected hashes instead of timing.
  */
object Main {

  final case class Op(name: String, startMs: Long, endMs: Long, wallMs: Double,
                      ok: Boolean, error: String = "", rows: Long = 0,
                      constructMs: Double = 0, planMs: Double = 0, actionMs: Double = 0,
                      extra: Map[String, Double] = Map.empty)

  final class Ctx(val spark: SparkSession, val args: Map[String, String],
                  val trace: Option[Trace]) {
    val seed: Long = args("seed").toLong
    val traced: Boolean = trace.isDefined
    val data: String = args("data")
    val work: String = args("work")
    val ops = mutable.ArrayBuffer.empty[Op]
    val info = mutable.LinkedHashMap.empty[String, Double]
    def sc = spark.sparkContext

    /** Attribute the body's jobs to a span (traced runs only). */
    def span[T](name: String)(body: => T): T =
      if (traced) Trace.span(sc, name)(body) else body
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = args("cores")
    val work = args("work")
    val t0 = System.nanoTime()
    val trace = if (args.get("trace").contains("1")) Some(new Trace) else None
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    // registered before any job, so the listener sees job 0 onwards
    trace.foreach(spark.sparkContext.addSparkListener(_))
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args, trace)
    ctx.info("session_start_s") = sessionS
    try {
      if (args.get("mode").contains("dump")) Registry.dump(ctx)
      else run(ctx)
    } finally spark.stop()
  }

  private def run(ctx: Ctx): Unit = {
    val workload = ctx.args("workload")
    Seq.fill(3)(calibration(ctx)) // JIT warm-up, so the start figures are not cold
    val calibStart = Seq.fill(3)(calibration(ctx))
    val measured = workload match {
      case "etl_daily" => Etl.run(ctx)
      case _           => Registry.run(ctx)
    }
    val calibEnd = Seq.fill(3)(calibration(ctx))
    ctx.info("measure_s") = measured
    ctx.info("vmhwm_kb") = vmHwmKb()
    ctx.trace.foreach { t =>
      org.apache.spark.perfbench.Bus.drain(ctx.sc)
      ctx.info("trace_total_jobs") = t.jobs.toDouble
      ctx.info("trace_max_job_id") = t.maxJobId.toDouble
    }
    write(ctx, calibStart, calibEnd)
  }

  /** Seconds `body` takes: the one pass a run measures. */
  def measured(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** A fixed synthetic job; timed at the start and end of every run. */
  private def calibration(ctx: Ctx): Double = ctx.span("calibration") {
    val t0 = System.nanoTime()
    ctx.spark.range(0L, 4000000L, 1L, ctx.sc.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000) AS s").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def vmHwmKb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) return 0.0
    scala.io.Source.fromFile(status).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  }

  /** Time one operation: `build` makes the DataFrame (or does all the
    * work, for operations that return no DataFrame) and `collect` forces
    * it; `check` then judges the rows, untimed. In traced runs the plan
    * is forced separately, so construct + plan + action partition the
    * wall time. */
  def timeOp(ctx: Ctx, name: String)(build: => DataFrame)
            (check: (StructType, Array[Row]) => (Boolean, String)): Op = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2 = 0L
    val res = try {
      ctx.span(s"op:$name") {
        val df = build
        t1 = System.nanoTime()
        if (ctx.traced) df.queryExecution.executedPlan
        t2 = System.nanoTime()
        Right((df, df.collect()))
      }
    } catch { case e: Throwable => Left(e) }
    val t3 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val op = res match {
      case Left(e) =>
        Op(name, startMs, endMs, (t3 - t0) / 1e6, ok = false,
          error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      case Right((df, rows)) =>
        val (ok, why) = try ctx.span("check")(check(df.schema, rows)) catch {
          case e: Throwable => (false, s"check failed: ${e.getClass.getSimpleName}")
        }
        Op(name, startMs, endMs, (t3 - t0) / 1e6, ok, why, rows.length,
          (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    }
    ctx.ops += op
    op
  }

  // ------------------------------------------------------------- output

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def write(ctx: Ctx, calibStart: Seq[Double], calibEnd: Seq[Double]): Unit = {
    val spans = ctx.trace.map(_.snapshot()).getOrElse(Map.empty)
    def opJson(o: Op): String = {
      val c = spans.get(s"op:${o.name}")
      val traced = c.map { s =>
        Seq("jobs" -> s.jobs.toDouble, "stages" -> s.stages.toDouble,
          "tasks" -> s.tasks.toDouble, "run_ms" -> s.runMs.toDouble,
          "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs.toDouble,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble,
          "bytes_written" -> s.bytesWritten.toDouble,
          "files_written" -> s.filesWritten.toDouble,
          "idle_ms" -> Trace.idleMs(o.startMs, o.endMs, s.jobIntervals.toSeq).toDouble,
          "jobs_outside_op" -> Trace.outside(o.startMs, o.endMs, s.jobIntervals.toSeq).toDouble)
      }.getOrElse {
        if (ctx.traced) Seq("jobs" -> 0.0, "idle_ms" -> o.wallMs) else Nil
      }
      val fields = Seq("name" -> jstr(o.name),
        "wall_ms" -> jnum(o.wallMs), "ok" -> o.ok.toString, "error" -> jstr(o.error),
        "rows" -> o.rows.toString, "construct_ms" -> jnum(o.constructMs),
        "plan_ms" -> jnum(o.planMs), "action_ms" -> jnum(o.actionMs)) ++
        (o.extra ++ traced).toSeq.sortBy(_._1).map { case (k, v) => k -> jnum(v) }
      fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    }
    val spanJobs = spans.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${v.jobs}" }
    val json =
      s"""{"info":{${ctx.info.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString(",")}},""" +
      s""""calib_start_ms":[${calibStart.map(jnum).mkString(",")}],""" +
      s""""calib_end_ms":[${calibEnd.map(jnum).mkString(",")}],""" +
      s""""span_jobs":{${spanJobs.mkString(",")}},""" +
      s""""ops":[${ctx.ops.map(opJson).mkString(",\n")}]}"""
    Files.write(Paths.get(ctx.args("out")), json.getBytes(UTF_8))
  }

  /** `key<TAB>value` lines. */
  def readTsv(path: String): Seq[(String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toSeq

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
