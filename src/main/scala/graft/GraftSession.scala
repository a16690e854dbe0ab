package graft

import org.apache.spark.sql.SparkSession

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** The one session profile every entry point runs under (Bench, BenchOne,
  * ExplainOne, Verify, RunEtl, SeedShift, ScaleData), so a plan dumped,
  * checked or timed by one of them is the plan the others run: UTC, AQE
  * on, nanosecond parquet timestamps read as long (events.parquet; see
  * Q.events), a 64 MB broadcast threshold, a 2g driver result cap, UI
  * off, WARN logging.
  *
  * Only the shuffle partition count differs between callers. The timing
  * mains derive it from input size ([[partitionsFor]]); the correctness
  * and data mains pass [[cpus]], so the sf0.01 correctness gate (1.9 MB,
  * one derived partition) keeps running multi-partition plans. */
object GraftSession {

  /** Input bytes per shuffle partition in [[partitionsFor]]. */
  val BytesPerPartition: Long = 2L << 20

  /** `SPARK_GRAFT_CPUS`, by default the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle partitions for the input under `dir`:
    * clamp(ceil(inputBytes(dir) / 2 MiB), 1, cpus). A cpus-keyed count
    * bills every reduce stage 32 near-empty tasks at sf0.1, and the
    * suite measured faster at 8 cpus than at 32 (624 vs 832 s). The
    * 2 MiB constant shapes only the small-input end: any input of at
    * least 2 MiB × cpus reaches the clamp, so a cluster keeps its
    * configured parallelism. AQE's parallelismFirst coalescing was
    * measured as the alternative and was worse at sf0.1 (it collapses
    * real compute to one partition: q271 7.4 → 12.9 s). */
  def partitionsFor(dir: String, cpus: Int): Int = {
    val bytes = inputBytes(dir)
    math.max(1L, math.min((bytes + BytesPerPartition - 1) / BytesPerPartition,
      cpus.toLong)).toInt
  }

  /** Total size of the regular files under `path`; 0 when it is missing.
    * A symlink named as `path` is resolved; links below it are not
    * followed, so a link back to a parent cannot loop the walk. */
  def inputBytes(path: String): Long = {
    val root = try Paths.get(path).toRealPath() catch { case _: IOException => return 0L }
    var total = 0L
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size()
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  /** A session on `master` with `partitions` shuffle partitions. */
  def start(partitions: Int, master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
