package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One workload run in one JVM. Writes the raw record to `--out`;
  * run.py turns it into metrics.
  *
  * Usage: Main --workload <ingest|lake_read|pipeline> --seed <n>
  *   --seconds <n> --trace <0|1> --cores <n> --work <dir> --sf <dir>
  *   --out <file>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val work = args("work")
    val traced = args("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, new Tracer(traced, spark.sparkContext), work,
      args("sf"), args("seed").toLong, args("seconds").toInt)
    if (traced) spark.sparkContext.addSparkListener(run.listener)
    val workload: Run => Window = args("workload") match {
      case "ingest" => Ingest.run
      case "lake_read" => LakeRead.run
      case "pipeline" => Pipeline.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val w = workload(run)
      val out = run.toJson(Map(
        "cores" -> cores,
        "window_s" -> w.seconds,
        "peak_rss_kb" -> peakRssKb,
        "hadoopfs" -> w.fsDelta,
        "listener" -> w.layers,
        "spans" -> run.tracer.spans.map(s =>
          Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs))))
      Files.writeString(Paths.get(args("out")), out)
    } finally spark.stop()
  }

  /** The JVM's resident-set high-water mark. */
  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Hadoop FileSystem counters summed over schemes. */
  def fsStats: Map[String, Long] = {
    val all = FileSystem.getAllStatistics.asScala
    Map(
      "bytes_read" -> all.map(_.getBytesRead).sum,
      "bytes_written" -> all.map(_.getBytesWritten).sum,
      "read_ops" -> all.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      "write_ops" -> all.map(_.getWriteOps.toLong).sum)
  }
}

/** The timed window of a run: its length, and the file-system and Spark
  * work done in it. */
final case class Window(seconds: Double, fsDelta: Map[String, Long],
    layers: Map[String, Map[String, Long]])

object Window {
  /** Times `body` as the run's window, with the counters around it. */
  def measure(r: Run)(body: => Unit): Window = {
    r.listener.reset()
    val before = Main.fsStats
    val t0 = System.nanoTime()
    body
    val secs = (System.nanoTime() - t0) / 1e9
    val after = Main.fsStats
    Window(secs, after.map { case (k, v) => k -> (v - before(k)) },
      r.listener.snapshot)
  }
}
