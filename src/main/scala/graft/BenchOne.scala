package graft

/** Times the named queries, one `[benchone] <query> <seconds> s` line
  * each (graft.Bench's capped-query repro parses these). Queries run in
  * ARGUMENT order, and a repeated name runs again — put a cheap query
  * first (or repeat the target) to separate JVM warm-up from the
  * steady-state wall. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the same session and derived partitions as graft.Bench, so an
    // isolated retime measures the plan the suite bench timed
    val spark = GraftSession.start(GraftSession.partitionsFor(sfDir, GraftSession.cpus))
    // debug-only job profile: SPARK_GRAFT_JOBLOG=1 prints one line per
    // Spark job (id, wall, #stages/tasks, call site) so a multi-action
    // query's wall can be attributed without the UI
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), site, js.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site, tasks) =>
            System.err.println(
              f"[benchone-job] id=${je.jobId} ${(System.nanoTime() - t0) / 1e9}%7.3f s tasks=$tasks%-5d $site")
          }
        }
      })
    }
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val byName = SparkEntry.allDecls.map(d => d.name -> d).toMap
    args.foreach { name =>
      byName.get(name) match {
        case None => System.err.println(s"[benchone] WARNING unknown query $name")
        case Some(d) =>
          val t0 = System.nanoTime()
          d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"[benchone] ${d.name} ${(System.nanoTime() - t0) / 1e9}%.2f s")
          // mirror Bench.sweepQueryState so isolated retimes see the
          // same between-query state the suite does
          SparkEntry.sweepQueryState(spark)
      }
    }
    spark.stop()
  }
}
