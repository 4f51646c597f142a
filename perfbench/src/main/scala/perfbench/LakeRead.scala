package perfbench

import scala.util.Random

import graft.lake._
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `lake_read`: one client in a closed loop runs a fixed read mix, in
  * seeded order, against a table with a deep history built during set-up:
  * one fast-append commit per small file, message_id written sorted, and
  * one pending merge-on-read delete. The run ends with one timed
  * maintenance pass and a check read.
  */
object LakeRead {
  val Files = 100
  val RowsPerFile = 10L
  val Buckets = 10
  val Rows: Long = Files * RowsPerFile
  val RowsPerBucket: Long = Rows / Buckets
  val Width: Long = LakeWriter.EventSpec.widthMicros
  /** The pending delete removes every message_id with this remainder. */
  val DeleteMod = 100L
  val DeleteRem = 13L
  val SetupReps = 3
  val Kinds = Seq("agg", "range", "point", "time_travel", "incremental", "metadata")

  def deleted(id: Long): Boolean = id % DeleteMod == DeleteRem

  /** (count, sum) of the live ids in [lo, hi); `applyDeletes` drops the
    * ids the pending delete removes. */
  def expect(lo: Long, hi: Long, applyDeletes: Boolean): (Long, Long) = {
    // (count, sum) of [0, n), and of the deleted ids in [0, n)
    def all(n: Long) = (n, n * (n - 1) / 2)
    def dead(n: Long) = {
      val c = n / DeleteMod + (if (n % DeleteMod > DeleteRem) 1 else 0)
      (c, DeleteMod * c * (c - 1) / 2 + DeleteRem * c)
    }
    def live(n: Long) =
      if (!applyDeletes) all(n)
      else { val (a, d) = (all(n), dead(n)); (a._1 - d._1, a._2 - d._2) }
    val (h, l) = (live(hi), live(lo))
    (h._1 - l._1, h._2 - l._2)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  final class Built(val loc: String, val snapshots: IndexedSeq[Long],
      val t0Micros: Long)

  def build(r: Run, i: Int): Built = {
    val spark = r.spark
    val loc = s"${r.work}/lake_read/t$i"
    val t0Micros = 1600000200000000L - Math.floorMod(1600000200000000L, Width) +
      Math.floorMod(r.seed, 1000L) * Width
    val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropDeleteMode -> LakeFormat.DeleteModeMergeOnRead))
    // ids are contiguous per bucket, so every file holds one id range
    val df = LakeWriter.generateBatch(spark, Rows, t0Micros, Math.abs(r.seed))
      .withColumn("timeperiod_loadedBy",
        lit(t0Micros) + floor(col("message_id") / RowsPerBucket) * lit(Width))
    val files = LakeWriter.writeDataFiles(df, table, sortBy = Seq("message_id"),
      maxRecordsPerFile = RowsPerFile)
      .sortBy(_.stats("message_id").longMin.get)
    require(files.size == Files, s"wrote ${files.size} files, want $Files")
    files.zipWithIndex.foreach { case (f, j) =>
      val s = f.stats("message_id")
      require(s.longMin.contains(j * RowsPerFile) &&
        s.longMax.contains((j + 1) * RowsPerFile - 1), s"file $j holds $s")
    }
    // one commit per file: snapshot j holds the ids [0, (j + 1) * RowsPerFile)
    val snaps = files.map(f => table.append(Seq(f))).toIndexedSeq
    table.deleteWhere(spark, col("message_id") % DeleteMod === DeleteRem)
    // a crashed writer's debris for the orphan sweep: a data file in the
    // table's layout that no commit references
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(files.head.path)
    val fs = src.getFileSystem(conf)
    FileUtil.copy(fs, src, fs, new Path(src.getParent, s"orphan-${src.getName}"), false, conf)
    new Built(loc, snaps, t0Micros)
  }

  def run(r: Run): Window = {
    val spark = r.spark
    var b: Built = null
    for (i <- 0 until SetupReps) {
      if (b != null) LakeTable.drop(b.loc)
      val t0 = System.nanoTime()
      b = build(r, i)
      r.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    val built = b
    val loc = built.loc
    val rnd = new Random(r.seed)

    def read(df: => DataFrame): Array[Row] = {
      val d = r.tracer.span("dsv2.plan") {
        val d = df
        d.queryExecution.executedPlan
        d
      }
      r.tracer.span("dsv2.exec")(d.collect())
    }
    def table = spark.read.format("laketable")
    def countSum(df: DataFrame): (Long, Long) = {
      val row = read(df.agg(count(lit(1)), coalesce(sum("message_id"), lit(0L))))(0)
      (row.getLong(0), row.getLong(1))
    }
    def expectEq[T](what: String, got: T, want: T): Unit =
      if (got != want) throw new AssertionError(s"$what: got $got want $want")

    val window = Window.measure(r) {
      val deadline = System.nanoTime() + r.seconds * 1000000000L
      // every round runs each kind once, in seeded order, so the mix's
      // proportions are the same for every seed
      var round = Seq.empty[String]
      while (System.nanoTime() < deadline) {
        if (round.isEmpty) round = rnd.shuffle(Kinds)
        val kind = round.head
        round = round.tail
        // parameters are drawn before the op, so the mix is the same
        // whatever the outcome
        val a = rnd.nextInt(Buckets); val span = rnd.nextInt(4)
        val key = { val k = rnd.nextLong(Rows); if (deleted(k)) k + 1 else k }
        val j = 1 + rnd.nextInt(Files); val i = 1 + rnd.nextInt(j)
        val t0 = System.nanoTime()
        r.op(s"read.$kind") {
          kind match {
            case "agg" =>
              expectEq("agg", countSum(table.load(loc)), expect(0, Rows, true))
            case "range" =>
              val hi = math.min(Buckets - 1, a + span)
              val got = countSum(table.load(loc).filter(col("timeperiod_loadedBy")
                .between(built.t0Micros + a * Width, built.t0Micros + hi * Width)))
              expectEq("range", got,
                expect(a * RowsPerBucket, (hi + 1) * RowsPerBucket, true))
            case "point" =>
              val rows = read(table.load(loc).filter(col("message_id") === key)
                .select(col("message_id"), col("data"), length(col("message_body"))))
              expectEq("point rows", rows.length, 1)
              expectEq("point data", rows(0).getString(1), md5Hex(s"d${Math.abs(r.seed)}-$key"))
              expectEq("point body", rows(0).getInt(2), 1600)
            case "time_travel" =>
              val got = countSum(table.option("snapshotId", built.snapshots(j - 1)).load(loc))
              expectEq("time travel", got, expect(0, j * RowsPerFile, false))
            case "incremental" =>
              val got = countSum(table
                .option("startSnapshotId", built.snapshots(i - 1))
                .option("endSnapshotId", built.snapshots(j - 1)).load(loc))
              // the batch source applies the current snapshot's pending
              // deletes to the appended range (the streaming source does not)
              expectEq("incremental", got, expect(i * RowsPerFile, j * RowsPerFile, true))
            case "metadata" =>
              val t = r.tracer.span("LakeTable.load")(LakeTable.load(loc))
              val fs = r.tracer.span("LakeTable.files")(t.files())
              expectEq("metadata", (fs.size, fs.map(_.rowCount).sum), (Files, Rows))
          }
        }
        val ms = r.ms(t0, System.nanoTime())
        r.sample("read_ms", ms)
        r.sample(s"read_ms.$kind", ms)
      }
    }

    // ---- one maintenance pass, then a check read -------------------------
    r.tableFacts(loc)
    val m0 = System.nanoTime()
    r.op("lake_read.maintenance") {
      val t = LakeTable.load(loc)
      r.tracer.span("LakeTable.compact")(t.compactFiles(spark))
      r.tracer.span("LakeTable.expire")(
        t.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
      val swept = r.tracer.span("LakeTable.orphan")(
        t.removeOrphanFiles(spark, System.currentTimeMillis()))
      expectEq("orphans swept", swept.deletedCount >= 1, true)
    }
    r.put("maintenance_ms", r.ms(m0, System.nanoTime()))
    r.op("lake_read.check") {
      expectEq("after maintenance", countSum(table.load(loc)), expect(0, Rows, true))
    }
    window
  }
}
