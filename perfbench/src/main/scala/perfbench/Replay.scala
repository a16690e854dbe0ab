package perfbench

import graft.etl.Etl
import graft.model.{FtmModel, Statement}
import graft.operators.{Delta, EntityAssembler, Exporters, Resolver, Statistics, Validators}
import graft.sources.StatementIO
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Stage replay of one `Etl.run`: the same public operator calls in the
  * same order, each materialized inside its own span so the per-layer
  * split is measurable. `Etl.run` fuses several of these stages into one
  * Spark job and runs the exports concurrently, so the replay's span sum
  * is reported next to the real run's wall rather than in its place. */
object Replay {

  /** Product span suffix → product file name, in `Etl.DefaultExporters`
    * order. */
  val Products: Seq[(String, String)] = Seq(
    "ftm" -> "entities.ftm.json", "names" -> "names.txt",
    "simple_csv" -> "targets.simple.csv", "nested" -> "targets.nested.json",
    "senzing" -> "senzing.json", "statistics" -> "statistics.json",
    "statements_csv" -> "statements.csv", "delta" -> "entities.delta.json",
    "index" -> "index.json", "catalog" -> "catalog.json")

  private lazy val entityRefPairs: Seq[String] = (for {
    sch <- FtmModel.schemata.keys.toSeq
    p <- FtmModel.entityRefProps(sch)
  } yield s"$sch|$p").sorted

  private def hashFrame(entities: DataFrame): DataFrame =
    entities.select(col("id"),
      Delta.entityHash(col("id"), col("schema"),
        flatten(transform(map_entries(col("properties")),
          e => transform(e.getField("value"),
            v => concat_ws("|", e.getField("key"), v))))).as("hash"))

  private def mb(path: String): Double = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
    bytes(new java.io.File(path)) / 1048576.0
  }

  private def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Replays `cfg`'s run over `statements`/`decisions`; returns the
    * per-layer metrics of this one replay. */
  def run(spark: SparkSession, tr: Tracer, statements: DataFrame,
      decisions: DataFrame, cfg: Etl.Config): Map[String, Double] = {
    import spark.implicits._
    val root = s"${cfg.outRoot}/statements"
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df }
    def timed[T](name: String)(body: => T): (T, Span) = {
      val r = tr.span(name)(body)
      tr.settle()
      val sp = tr.named(name).last
      out(s"$name.s") = sp.seconds
      (r, sp)
    }

    val (canonicalized, resolverSpan) = timed("operators.resolver") {
      val ids = decisions.select(col("a").as("id"))
        .unionByName(decisions.select(col("b").as("id"))).distinct()
      val remap = Resolver.canonicalize(ids, decisions)
        .filter(col("canonical") =!= col("id"))
        .select(col("id").as("entityId"), col("canonical"))
        .localCheckpoint()
      val isRef = concat_ws("|", col("schema"), col("prop")).isInCollection(entityRefPairs)
      keep(materialize(statements.drop("canonicalId")
        .join(broadcast(remap), Seq("entityId"), "left")
        .withColumn("canonicalId", coalesce(col("canonical"), col("entityId")))
        .drop("canonical")
        .join(broadcast(remap.select(col("entityId").as("__refv"),
          col("canonical").as("__refc"))), isRef && col("value") === col("__refv"), "left")
        .withColumn("value", coalesce(col("__refc"), col("value")))
        .drop("__refv", "__refc")))
    }
    out("operators.resolver.jobs") = resolverSpan.jobs.toDouble

    val prev = cfg.previousVersion.map { v =>
      timed("sources.store_scan_prev") {
        keep(materialize(StatementIO.scanVersion(spark, root, v).toDF()))
      }._1
    }
    val withSeen = prev match {
      case Some(p) => timed("operators.delta.first_seen") {
        keep(materialize(Delta.preserveFirstSeen(canonicalized, p,
          lit(cfg.runTime).cast("timestamp"))))
      }._1
      case None => canonicalized
    }
    val ordered = withSeen.select(
      Statement.sparkSchema.map(f => col(f.name).cast(f.dataType)): _*)
    timed("sources.store_write") {
      StatementIO.write(ordered.as[Statement], root, cfg.version)
    }
    out("sources.store_write.mb") = mb(s"$root/${cfg.version}")
    cached.foreach(_.unpersist(false))

    val stored = StatementIO.scanVersion(spark, root, cfg.version).toDF()
    val (entities, asm) = timed("operators.assemble") {
      materialize(EntityAssembler.assembleColumnar(stored.filter(!col("external")),
        trustCanonicalId = true))
    }
    out("operators.assemble.shuffle_mb") = asm.shuffleWriteBytes / 1048576.0
    out("operators.assemble.spill_mb") = asm.spillBytes / 1048576.0
    out("operators.assemble.peak_task_mem_mb") = asm.peakTaskMemBytes / 1048576.0
    val entityCount = entities.count()

    val (issues, validate) = timed("operators.validate") {
      Validators.checkAssertions(entities, cfg.assertions).filter(!col("passed")).collect()
      materialize(Validators.danglingRefs(entities)
        .select(lit(cfg.datasetName).as("dataset"), lit("warning").as("level"),
          concat(col("src_id"), lit(" property "), col("prop"),
            lit(" references missing id "), col("dst_id")).as("message")))
    }
    out("operators.validate.jobs") = validate.jobs.toDouble

    val dir = s"${cfg.outRoot}/datasets/${cfg.version}/${cfg.datasetName}"
    val files = math.max(1L, (entityCount + 499999L) / 500000L).toInt
    def sized(df: DataFrame): DataFrame = df.coalesce(files)
    val prevEntities = prev match {
      case Some(p) => EntityAssembler.assembleColumnar(p.filter(!col("external")),
        trustCanonicalId = true)
      case None => entities.limit(0)
    }
    var exportJobs = 0L
    for ((key, product) <- Products) {
      val path = s"$dir/$product"
      val (_, sp) = timed(s"operators.export.$key") {
        product match {
          case "entities.ftm.json" =>
            writeText(sized(entities.select(Exporters.ftmJsonLine(
              col("id"), col("schema"), col("properties")).as("json")))
              .sortWithinPartitions("json"), path)
          case "names.txt" =>
            writeText(sized(Etl.namesTxt(entities)).sortWithinPartitions("name"), path)
          case "targets.simple.csv" =>
            sized(Exporters.simpleCsv(entities)).sortWithinPartitions("id")
              .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
          case "targets.nested.json" =>
            writeText(sized(Exporters.nestedTargetJsonLines(entities)
              .select("json")).sortWithinPartitions("json"), path)
          case "senzing.json" =>
            writeText(sized(Exporters.senzingJsonLines(entities, cfg.datasetName)
              .select("json")).sortWithinPartitions("json"), path)
          case "statistics.json" =>
            writeText(Statistics.statisticsJson(entities), path)
          case "statements.csv" =>
            StatementIO.exportCsv(stored.as[Statement], path)
          case "entities.delta.json" =>
            val diff = Delta.diff(hashFrame(prevEntities), hashFrame(entities))
            writeText(sized(Exporters.deltaJsonLines(diff, entities, prevEntities)
              .select("json")).sortWithinPartitions("json"), path)
          case "index.json" =>
            writeText(Exporters.datasetIndexJson(stored, issues, cfg.version, cfg.runTime,
              resources = cfg.exporters.sorted).select("json"), path)
          case "catalog.json" =>
            writeText(Exporters.catalog(stored).select("json")
              .sortWithinPartitions("json"), path)
        }
      }
      out(s"operators.export.$key.mb") = mb(path)
      exportJobs += sp.jobs
    }
    out("operators.export.jobs") = exportJobs.toDouble
    issues.unpersist(false)
    entities.unpersist(false)
    out.toMap
  }
}
