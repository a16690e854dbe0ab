package perfbench

import graft.SparkEntry
import graft.etl.Etl
import graft.model.Statement
import graft.operators.Validators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main, and checks the outputs it leaves behind.
  *
  * Usage: perfbench.Main <workload> <seconds> <trace 0|1> <etl inputs dir>
  *   <tables dir> <input bytes> <work dir> [query names]
  *
  * Trailing query names restrict the query mix's rounds to those queries.
  *
  * While it runs, appends to `<work>/events.jsonl` one line when set-up
  * ends and one as each op starts and ends, so `run.py` can still report
  * the ops of a run it had to stop. At the end writes `<work>/result.json`
  * (setup timings, one record per op, one per round, per-layer metrics
  * when traced) and, when traced, `<work>/spans.jsonl`. */
object Main {
  val V2Time = "2026-01-01 00:00:00"
  val Assertions = Seq(
    Validators.Assertion("entity_count", "gte", "", 1L),
    Validators.Assertion("schema_entities", "gte", "Person", 1L))

  /** The query mix, in the order each round runs it. q114 keeps its stream
    * state under java.io.tmpdir (see build.sbt). */
  val QueryNames: Seq[String] = Seq(
    "q114_streaming_statement_store", "q64_extract_date_full",
    "q209_incremental_components", "q255_q21_sole_blame", "q110_xref_pipeline")

  final case class Op(name: String, round: Int, seconds: Double,
      error: Option[String], fields: Map[String, String])

  /** One workload: untimed setup, then rounds of ops. */
  trait Workload {
    def setup(): Unit
    def round(r: Int, run: (String, () => Map[String, String]) => Unit): Unit
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, etlInputs, tables, inputBytesArg, work) =
      args.take(7)
    val queryNames = if (args.length > 7) args.drop(7).toSeq else QueryNames
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = session(nproc, inputBytesArg.toLong, work)
    val sessionMs = System.currentTimeMillis()
    val tr = new Tracer(spark.sparkContext, traced)
    val republish = new Republish(spark, etlInputs, work)
    val queries = new QueryMix(spark, tables, work, queryNames)
    // A traced run loads every layer, whichever workload it is for, so each
    // per-layer metric is measured: one query round, one republish, its
    // stage replay. Only the session profile follows the workload. The
    // query round comes first, as cold as in an untraced run, so run.py can
    // set its first query against an untraced one.
    val measured: Workload =
      if (traced) queries
      else workload match {
        case "republish_large" => republish
        case "query_mix" => queries
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    measured.setup()
    val readyMs = System.currentTimeMillis()
    val events = new PrintWriter(s"$work/events.jsonl", "UTF-8")
    def event(json: String): Unit = { events.println(json); events.flush() }
    event(s"""{"ready_ms":$readyMs}""")

    val ops = ArrayBuffer.empty[Op]
    val rounds = ArrayBuffer.empty[(Int, Double)]
    def runRound(w: Workload): Unit = {
      val r = rounds.size
      val rs = System.nanoTime()
      w.round(r, (name, body) => {
        event(s"""{"start":${str(name)},"ms":${System.currentTimeMillis()}}""")
        val s = System.nanoTime()
        val res = try Right(tr.span(name)(body())) catch {
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - s) / 1e9
        ops += Op(name, r, sec, res.left.toOption, res.getOrElse(Map.empty))
        event(opJson(ops.last))
        SparkEntry.sweepQueryState(spark)
      })
      rounds += ((r, (System.nanoTime() - rs) / 1e9))
    }
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      // whole rounds until the measuring time is spent, so every run
      // measures the same op mix
      val t0 = System.nanoTime()
      do runRound(measured) while ((System.nanoTime() - t0) / 1e9 < seconds)
    } else {
      runRound(queries)
      runRound(republish)
      layers ++= tr.span("replay")(Replay.run(spark, tr, republish.v2, republish.decisions,
        Etl.Config("large", "replay", republish.root, V2Time, assertions = Assertions,
          previousVersion = Some("v1"))))
      tr.settle()
      val tracedSeconds = tr.all.filter(_.parent < 0).map(_.seconds).sum
      layers("replay.span_sum_s") = tr.named("replay").last.seconds
      layers("trace.listener_pct") = 100.0 * tr.handlerSeconds / tracedSeconds
      layers ++= etlLayers(tr)
      layers ++= queryLayers(tr)
      writeLines(s"$work/spans.jsonl", tr.toJsonLines)
    }
    val timedEndMs = System.currentTimeMillis()
    events.close()

    val json = new StringBuilder("{")
    json ++= s""""jvm_start_ms":$jvmStartMs,"main_ms":$mainMs,"session_ms":$sessionMs,"""
    json ++= s""""ready_ms":$readyMs,"timed_end_ms":$timedEndMs,"nproc":$nproc,"""
    json ++= s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},"""
    json ++= s""""peak_rss_kb":${vmHwmKb()},"""
    json ++= "\"rounds\":" + rounds.map { case (i, s) =>
      s"""{"round":$i,"seconds":$s}""" }.mkString("[", ",", "]") + ","
    json ++= "\"ops\":" + ops.map(opJson).mkString("[", ",", "]") + ","
    json ++= "\"layers\":" + layers.map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")
    json ++= "}"
    writeLines(s"$work/result.json", Seq(json.toString))
    spark.stop()
  }

  private def opJson(o: Op): String = {
    val f = o.fields.map { case (k, v) => s""""$k":${str(v)}""" }.mkString(",")
    s"""{"name":${str(o.name)},"round":${o.round},"seconds":${o.seconds},""" +
      s""""error":${o.error.map(str).getOrElse("null")},"fields":{$f}}"""
  }

  /** The pinned session profile: every core, shuffle partitions derived
    * from input bytes the way graft.Bench derives them (2 MiB per
    * partition, clamped to [1, cores]), AQE on, 64 MB broadcast
    * threshold. Scratch space stays inside the work directory. */
  def session(nproc: Int, inputBytes: Long, work: String): SparkSession = {
    val perPart = 2L << 20
    val parts = math.max(1L, math.min((inputBytes + perPart - 1) / perPart, nproc.toLong))
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def readStatements(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(Statement.sparkSchema.map(f => col(f.name).cast(f.dataType)): _*)

  /** One large dataset republished against its previous version, which
    * the generator wrote into the statement store. */
  final class Republish(spark: SparkSession, inputs: String, work: String)
      extends Workload {
    private val dir = s"$inputs/large"
    val root = s"$work/store"
    def v2: DataFrame = readStatements(spark, s"$dir/v2/statements.parquet")
    def decisions: DataFrame = spark.read.parquet(s"$dir/decisions.parquet")

    def setup(): Unit = ()

    def round(r: Int, run: (String, () => Map[String, String]) => Unit): Unit =
      run("etl.run", () => {
        val res = Etl.run(spark, v2, decisions, Etl.Config("large", s"v2_r$r", root, V2Time,
          assertions = Assertions, previousVersion = Some("v1")))
        Map("dir" -> res.productDir, "entities" -> res.entityCount.toString,
          "dangling" -> res.danglingRefCount.toString)
      })
  }

  /** The named queries in fixed order. Each op writes its result as
    * parquet, which `run.py` checks against the DuckDB oracle. */
  final class QueryMix(spark: SparkSession, tables: String, work: String,
      names: Seq[String])
      extends Workload {
    def setup(): Unit = {
      val oracle = SparkEntry.oracleSql
      writeLines(s"$work/oracle.json", Seq(QueryNames.map(q =>
        s"${str(q)}:${str(oracle(q))}").mkString("{", ",", "}")))
      spark.read.parquet(s"$tables/nation.parquet").count()
    }

    def round(r: Int, run: (String, () => Map[String, String]) => Unit): Unit =
      for (q <- names) run(s"queries.$q", () => {
        val dir = s"$work/results/r$r/$q"
        SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(dir)
        Map("query" -> q, "dir" -> dir)
      })
  }

  /** `etl.*` metrics of the traced `Etl.run`. */
  private def etlLayers(tr: Tracer): Seq[(String, Double)] = {
    val run = tr.named("etl.run").last
    Seq(
      "etl.jobs" -> run.jobs.toDouble,
      "etl.tasks" -> run.tasks.toDouble,
      "etl.driver_gap_s" -> tr.driverGapSeconds(run),
      "etl.task_busy_s" -> run.taskBusyMs / 1e3,
      "etl.sched_delay_s" -> run.schedDelayMs / 1e3,
      "etl.gc_s" -> run.gcMs / 1e3,
      "etl.failed_tasks" -> run.failedTasks.toDouble,
      "etl.run_wall_s" -> run.seconds)
  }

  /** `queries.<q>.*` metrics of the traced query round. */
  private def queryLayers(tr: Tracer): Seq[(String, Double)] =
    QueryNames.flatMap { q =>
      val sp = tr.named(s"queries.$q").last
      Seq(s"queries.$q.s" -> sp.seconds, s"queries.$q.jobs" -> sp.jobs.toDouble,
        s"queries.$q.shuffle_mb" -> sp.shuffleWriteBytes / 1048576.0)
    }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def writeLines(path: String, lines: Seq[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
