package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** The registry workload (`iterative_heavy`): one closed-loop client sends
  * the listed registry rows once each, in a seed-permuted order, and
  * checks every result against its expected hash. */
object Registry {

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def names(path: String): Seq[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** Returns the measured seconds. */
  def run(ctx: Main.Ctx): Double = {
    val spark = ctx.spark
    val rows = names(ctx.args("list"))
    val queries = SparkEntry.queries
    // name, hash, and where the hash came from (oracle | head)
    val expected = Main.readTsv(ctx.args("expected"))
      .map { case (k, v) => k -> v.takeWhile(_ != '\t') }.toMap
    // set-up: first touch of every table
    val t0 = System.nanoTime()
    ctx.span("setup") {
      Tables.foreach(t => graft.queries.t(spark, ctx.data, t).count())
    }
    ctx.info("warmup_s") = (System.nanoTime() - t0) / 1e9

    Main.measured {
      new scala.util.Random(ctx.seed).shuffle(rows).foreach { name =>
        Main.timeOp(ctx, name)(queries(name)(spark, ctx.data)) { (schema, got) =>
          val h = Canon.hash(schema, got)
          expected.get(name) match {
            case Some(e) if e == h => (true, "")
            case Some(e)           => (false, s"hash $h != expected $e")
            case None              => (false, s"no expected hash (got $h)")
          }
        }
        spark.catalog.clearCache()
      }
    }
  }

  /** Write each row's result (parquet) and hash, and the registry's oracle
    * SQL, for `perfbench/derive_expected.py`. */
  def dump(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.args("dump")
    val queries = SparkEntry.queries
    val lines = names(ctx.args("list")).map { name =>
      val df = queries(name)(spark, ctx.data)
      val got = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(got: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      spark.catalog.clearCache()
      s"$name\t${Canon.hash(df.schema, got)}"
    }
    Files.write(Paths.get(s"$out/spark_hashes.tsv"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) =>
      s"$k\t${v.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t")}"
    }
    Files.write(Paths.get(s"$out/oracle_sql.tsv"), (oracle.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
