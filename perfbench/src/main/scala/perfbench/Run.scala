package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.{LakeFormat, LakeTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What one workload run records: raw samples and counters, op and check
  * outcomes, spans. The statistics are computed from this by run.py.
  */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val work: String, val sfDir: String, val seed: Long, val seconds: Int) {
  /** Spark task metrics per layer; registered only for a traced run. */
  val listener = new LayerListener
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]

  def sample(name: String, v: Double): Unit = samples.synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def put(name: String, v: Any): Unit = values.synchronized { values(name) = v }

  def add(name: String, v: Double): Unit = values.synchronized {
    values(name) = values.get(name).fold(v)(_.asInstanceOf[Double] + v)
  }

  /** One op: counted as attempted, and as failed if it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(tracer.span(name)(body))
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        if (failures.size < 50) failures.add(s"$name: $e")
        None
    }
  }

  /** One correctness check: counted as attempted, and as failed if false. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 50) failures.add(s"check $name failed $detail")
    }
    ok
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Metadata and storage facts of a table, through its public API and a
    * listing of its directory. */
  def tableFacts(loc: String): Unit = {
    val t = LakeTable.load(loc)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def du(p: Path): Long =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    put("table.snapshots", t.snapshots.size)
    put("table.manifests", t.snapshots.find(_.id == t.currentSnapshotId)
      .map(_.manifests.size).getOrElse(0))
    put("table.metadata_bytes", du(new Path(loc, LakeFormat.MetadataDir)))
    put("table.dir_bytes", du(new Path(loc)))
    put("table.live_bytes", t.files().map(_.sizeBytes).sum)
  }

  def toJson(extra: Map[String, Any]): String = Json.write(Map(
    "attempted" -> attempted.get, "failed" -> failed.get,
    "failures" -> failures.asScala.toSeq,
    "samples" -> samples.synchronized(samples.toMap),
    "values" -> values.synchronized(values.toMap)) ++ extra)
}

/** Just enough JSON output for numbers, strings, maps and sequences. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null => sb ++= "null"
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { v => if (!first) sb += ','; first = false; go(v) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
