package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.operators.{Pipeline, Quality, StarSchema, TableStore}
import graft.sources.Readers

/** The `etl_daily` workload: the reference's daily job through
  * `Pipeline.run` — a full load of the first days, a one-new-day
  * incremental run, a no-op re-run the ledger skips, then the key checks
  * on every dimension and fact. The run starts from an empty root and
  * its own database, and checks every table against the counts the
  * generator expects. */
object Etl {

  private val CallRenames = Map("call ID" -> "call_id", "customeR iD" -> "customer_id",
    "COMPLAINT_catego ry" -> "complaint_category", "agent ID" -> "agent_id",
    "resolutionstatus" -> "resolution_status",
    "callLogsGenerationDate" -> "call_logs_generation_date")
  private val SocialRenames = Map("customeR iD" -> "customer_id",
    "COMPLAINT_catego ry" -> "complaint_category", "agent ID" -> "agent_id",
    "resolutionstatus" -> "resolution_status",
    "MediaComplaintGenerationDate" -> "media_complaint_generation_date")
  private val WebRenames = Map("Column1" -> "column_1", "customeR iD" -> "customer_id",
    "COMPLAINT_catego ry" -> "complaint_category", "agent ID" -> "agent_id",
    "resolutionstatus" -> "resolution_status",
    "webFormGenerationDate" -> "web_form_generation_date")
  private val CustomerRenames = Map("Gender" -> "gender", "DATE of biRTH" -> "date_of_birth")
  private val AgentRenames = Map("iD" -> "id", "NamE" -> "name")
  private val AgentSchema = StructType(Seq("iD", "NamE", "experience", "state")
    .map(StructField(_, StringType)))

  /** fact -> (staging table prefix, key column) */
  private val Facts = Seq(
    "fact_call_logs" -> ("call_logs", "call_id"),
    "fact_social_media_complaints" -> ("social_medias", "complaint_id"),
    "fact_web_complaints" -> ("web_complaints", "request_id"))

  /** (table, column, check) — every dim and fact key. */
  private val Checks: Seq[(String, String, String)] =
    Seq("dim_customers" -> "customer_id", "dim_agents" -> "agent_id").flatMap {
      case (t, k) => Seq((t, k, "unique"), (t, k, "not_null"))
    } ++ Facts.flatMap { case (f, (_, k)) =>
      Seq((f, k, "unique"), (f, k, "not_null"),
        (f, "customer_id", "not_null"), (f, "agent_id", "not_null"))
    }

  private def star(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    StarSchema.build(
      staging = tables,
      dims = Seq(
        "dim_customers" -> (c => StarSchema.dim(c("customers"),
          "customer_id" -> "customer_id", "name" -> "customer_name", "gender" -> "gender",
          "date_of_birth" -> "date_of_birth", "signup_date" -> "signup_date",
          "email" -> "email", "address" -> "address")),
        "dim_agents" -> (c => StarSchema.dim(c("agents"),
          "id" -> "agent_id", "name" -> "agent_name", "experience" -> "experience",
          "state" -> "state"))),
      facts = Facts.map { case (fact, (prefix, key)) =>
        fact -> ((c: Map[String, DataFrame]) => {
          val days = c.keys.filter(_.startsWith(prefix + "_d")).toSeq.sorted.map(c)
          val all = TableStore.appendByName(days)
          StarSchema.fact(all, all.columns.toSeq,
            Seq((c("dim_customers"), "customer_id", "customer_id"),
              (c("dim_agents"), "agent_id", "agent_id")))
        })
      })

  /** Returns the measured seconds. */
  def run(ctx: Main.Ctx): Double = {
    val spark = ctx.spark
    val exp = Main.readTsv(ctx.args("expected")).toMap
    val files = exp.collect { case (k, v) if k.startsWith("file.") => k.drop(5) -> v }
    val days = exp("days").toInt
    val all = files.keys.toSeq.sorted
    val full = all.filterNot(_.endsWith(s"_d$days"))
    val agents: Seq[Row] = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readValue(new File(s"${ctx.data}/agents.json"), classOf[Array[Array[String]]])
        .toSeq.map(a => Row(a: _*))
    }
    var readMs = 0.0
    def timedRead(read: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = read
      readMs += (System.nanoTime() - t0) / 1e6
      df
    }
    def source(name: String): Pipeline.Source = {
      val path = s"${ctx.data}/${files(name)}"
      name match {
        case "customers" => Pipeline.Source(name,
          s => timedRead(Readers.csvAllString(s, path)), CustomerRenames)
        case "agents" => Pipeline.Source(name,
          s => timedRead(Readers.rows(s, agents, AgentSchema)), AgentRenames)
        case n if n.startsWith("call_logs") => Pipeline.Source(name,
          s => timedRead(Readers.csvAllString(s, path)), CallRenames, incremental = true)
        case n if n.startsWith("social_medias") => Pipeline.Source(name,
          s => timedRead(Readers.json(s, path)), SocialRenames, incremental = true)
        case _ => Pipeline.Source(name,
          s => timedRead(Readers.parquet(s, path)), WebRenames, incremental = true)
      }
    }

    // No warm-up: a daily job starts in a fresh process, so its first
    // reads and first compilations are part of what it costs.
    ctx.info("warmup_s") = 0.0

    Main.measured {
      onePass(ctx, full, all, source, exp, () => { val r = readMs; readMs = 0.0; r })
    }
  }

  private def onePass(ctx: Main.Ctx, full: Seq[String], all: Seq[String],
                      source: String => Pipeline.Source, exp: Map[String, String],
                      takeReadMs: () => Double): Unit = {
    val spark = ctx.spark
    val db = "etl"
    val root = s"${ctx.work}/etl"
    spark.sql(s"CREATE DATABASE $db")
    spark.catalog.setCurrentDatabase(db)
    try {
      Seq("full" -> full, "incremental" -> all, "noop" -> all).foreach { case (kind, names) =>
        var report: Pipeline.RunReport = null
        val op = Main.timeOp(ctx, s"pipeline.$kind") {
          report = Pipeline.run(spark, names.map(source), root, star)
          spark.emptyDataFrame
        } { (_, _) => verify(spark, kind, names, exp) }
        if (report != null) {
          val st = report.stages.map(m => m.operation -> m).toMap
          def sec(s: String) = st.get(s).map(_.durationSeconds).getOrElse(0.0)
          val extra = Map("land_s" -> sec("land"), "transform_s" -> sec("transform"),
            "warehouse_load_s" -> sec("warehouse_load"), "star_schema_s" -> sec("star_schema"),
            "retried" -> report.stages.map(_.retried).sum.toDouble,
            "land_skipped" -> st.get("land").map(_.skipped).getOrElse(0L).toDouble,
            "load_skipped" -> st.get("warehouse_load").map(_.skipped).getOrElse(0L).toDouble,
            "read_ms" -> takeReadMs())
          ctx.ops(ctx.ops.length - 1) = op.copy(extra = extra)
        }
      }
      // The key checks run as one operation, like the dbt test step of
      // the reference's DAG; each check's own time is kept for the layer
      // metrics.
      val checkMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val suite = Main.timeOp(ctx, "quality.checks") {
        val got = Checks.map { case (table, key, check) =>
          val t0 = System.nanoTime()
          val df = spark.table(table)
          val ok = if (check == "unique") Quality.isUnique(df, key) else Quality.isNotNull(df, key)
          checkMs += (System.nanoTime() - t0) / 1e6
          s"$table.$key.$check" -> ok
        }
        import spark.implicits._
        got.toDF("check", "ok")
      } { (_, rows) =>
        val bad = rows.toSeq.map(r => r.getString(0) -> r.getBoolean(1))
          .filter { case (c, ok) => exp(s"check.$c").toBoolean != ok }
        if (bad.isEmpty) (true, "") else (false, s"unexpected check outcomes: ${bad.mkString(", ")}")
      }
      val s = checkMs.sorted
      val median = if (s.isEmpty) 0.0 else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
      ctx.ops(ctx.ops.length - 1) = suite.copy(extra = Map("check_ms_median" -> median))
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.catalog.clearCache()
      Main.deleteRecursively(new File(root))
    }
  }

  /** Row counts after one pipeline run against the generator's counts. */
  private def verify(spark: SparkSession, kind: String, names: Seq[String],
                     exp: Map[String, String]): (Boolean, String) = {
    val starKey = if (kind == "full") "star_full" else "star_incremental"
    // staging tables once, after the run that has loaded all of them
    val wanted = (if (kind == "incremental") names.map(n => n -> exp(s"staging.$n")) else Nil) ++
      exp.collect { case (k, v) if k.startsWith(starKey + ".") => k.drop(starKey.length + 1) -> v }
    val bad = wanted.flatMap { case (table, want) =>
      val got = spark.table(table).count()
      if (got == want.toLong) None else Some(s"$table rows $got != $want")
    }
    if (bad.isEmpty) (true, "") else (false, bad.mkString("; "))
  }
}
