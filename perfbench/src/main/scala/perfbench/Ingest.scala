package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.lake._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `ingest`: the reference's process topology in one process, closed loop.
  * One writer thread writes batches back to back and publishes a moniker
  * for each; one bookkeeper thread sweeps the monikers into fast-append
  * commits; one maintenance thread expires snapshots and applies
  * retention; a streaming query tails the table into a sink that records
  * when each batch first appears.
  */
object Ingest {
  /** Rows per half batch; each batch writes two halves into two buckets. */
  val RowsPerHalf = 250L
  /** Bytes of user payload per generated row: data (32) + body (1600) +
    * message_id, timestamp and timeperiod_loadedBy (8 each). */
  val UserBytesPerRow = 1656L
  val Width: Long = LakeWriter.EventSpec.widthMicros
  /** Synthetic clock: each batch is 30 s after the one before it. */
  val StepMicros = 30000000L
  /** Retention keeps the last 10 buckets behind what the sink has seen. */
  val RetentionMicros: Long = 10 * Width
  val SetupReps = 3
  val SweepPollMs = 5L
  val MaintenanceEveryMs = 250L

  final class Batch(val k: Int, val tp1: Long) {
    // the second half lands in another bucket, and its timeperiod never
    // equals another batch's first half (Width + 1 is no multiple of Step)
    val tp2: Long = tp1 + Width + 1
    @volatile var genStartNs, publishEndNs, committedNs, seenNs = 0L
  }

  def bucketEnd(tp: Long): Long = tp - Math.floorMod(tp, Width) + Width

  def run(r: Run): Window = {
    val spark = r.spark
    val t0Micros = 1600000200000000L - Math.floorMod(1600000200000000L, Width) +
      Math.floorMod(r.seed, 1000L) * Width
    val batches = mutable.ArrayBuffer.empty[Batch]
    val byTp = new ConcurrentHashMap[Long, Batch]()
    val fileToBatch = new ConcurrentHashMap[String, Batch]()
    val seenRows = new ConcurrentHashMap[Long, Long]()
    @volatile var sinkMaxK = -1

    // a lean consumer: one column to the driver, counted there
    def sink(df: DataFrame): Unit = {
      val tps = df.select("timeperiod_loadedBy").collect().map(_.getLong(0))
      val now = System.nanoTime()
      tps.groupBy(identity).foreach { case (tp, rows) =>
        seenRows.merge(tp, rows.length.toLong, (a: Long, b: Long) => a + b)
        Option(byTp.get(tp)).foreach { b =>
          if (b.seenNs == 0L) b.seenNs = now
          if (b.k > sinkMaxK) sinkMaxK = b.k
        }
      }
    }

    // ---- set-up: create the table and start the tailing stream ----------
    var loc = ""
    var query: StreamingQuery = null
    for (i <- 0 until SetupReps) {
      if (query != null) { query.stop(); LakeTable.drop(loc) }
      loc = s"${r.work}/ingest/t$i"
      val t0 = System.nanoTime()
      LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      query = spark.readStream.format("laketable")
        .option("startSnapshotId", "0").load(loc)
        .writeStream
        .option("checkpointLocation", s"${r.work}/ingest/ckpt$i")
        .foreachBatch((df: DataFrame, _: Long) => sink(df))
        .start()
      query.processAllAvailable()
      r.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    val tableLoc = loc
    warmUp(r, t0Micros)
    // only the timed query's triggers are recorded
    spark.streams.addListener(new ProgressLog(r))

    // ---- the three service threads ---------------------------------------
    @volatile var writerDone = false
    @volatile var stopMaintenance = false
    @volatile var maxCutoff = Long.MinValue
    val deadline = System.nanoTime() + r.seconds * 1000000000L
    var windowEndNs = 0L

    val window = Window.measure(r) {
      val writer = thread("writer") {
        val table = LakeTable.load(tableLoc)
        var k = 0
        while (System.nanoTime() < deadline) {
          val b = new Batch(k, t0Micros + k * StepMicros)
          byTp.put(b.tp1, b); byTp.put(b.tp2, b)
          batches.synchronized(batches += b)
          val base = Math.abs(r.seed) * 1000003L + 2L * k
          r.op("ingest.batch") {
            b.genStartNs = System.nanoTime()
            val df = LakeWriter.generateBatch(spark, RowsPerHalf, b.tp1, base)
              .unionByName(LakeWriter.generateBatch(spark, RowsPerHalf, b.tp2, base + 1))
            val w0 = System.nanoTime()
            val files = r.tracer.span("LakeWriter.write") {
              LakeWriter.writeDataFiles(df, table, filesPerPartition = 2)
            }
            val w1 = System.nanoTime()
            r.add("writer.write_ms", r.ms(w0, w1))
            r.add("writer.files", files.size)
            r.add("writer.bytes_out", files.map(_.sizeBytes).sum.toDouble)
            files.foreach(f => fileToBatch.put(f.path, b))
            r.tracer.span("Monikers.publish")(Monikers.publish(tableLoc, files))
            b.publishEndNs = System.nanoTime()
          }
          k += 1
        }
        windowEndNs = System.nanoTime()
      }

      val bookkeeper = thread("bookkeeper") {
        val table = LakeTable.load(tableLoc)
        val bk = new FileBookkeeper(table)
        var sweeps, useful, errors, filesCommitted = 0L
        var drained = false
        while (!drained) {
          val done = writerDone
          if (r.tracer.enabled)
            r.sample("bookkeeper.pending_at_sweep", Monikers.listPending(tableLoc).size)
          val s0 = System.nanoTime()
          val snap =
            try r.tracer.span("Bookkeeper.sweep")(bk.sweep())
            catch { case _: Exception => errors += 1; -2L }
          val s1 = System.nanoTime()
          sweeps += 1
          r.sample("bookkeeper.sweep_ms", r.ms(s0, s1))
          if (snap >= 0) {
            useful += 1
            val parent = table.snapshots.find(_.id == snap).map(_.parentId).get
            val added = table.addedFilesBetween(parent, snap)
            filesCommitted += added.size
            added.flatMap(f => Option(fileToBatch.get(f.path))).distinct.foreach { b =>
              b.committedNs = s1
              r.sample("commit_latency_ms", r.ms(b.publishEndNs, s1))
            }
          } else if (snap == -1L && done) drained = true
          if (!drained) Thread.sleep(SweepPollMs)
        }
        r.put("bookkeeper.sweeps", sweeps)
        r.put("bookkeeper.useful_sweeps", useful)
        r.put("bookkeeper.files_committed", filesCommitted)
        r.put("bookkeeper.avg_latency_ms", bk.avgLatencyMs)
        r.check("bookkeeper sweeps raise no error", errors == 0, s"$errors errors")
      }

      val maintenance = thread("maintenance") {
        val table = LakeTable.load(tableLoc)
        val reaper = new Reaper(table, maxAgeMs = 10000L, retainLast = 20)
        while (!stopMaintenance) {
          r.op("ingest.maintenance") {
            r.tracer.span("LakeTable.refresh")(table.refresh())
            r.tracer.span("LakeTable.expire")(reaper.expireOnce())
            // everything below the cutoff is committed and already seen by
            // the sink, so the rows retention drops are known exactly
            val k = sinkMaxK
            if (k >= 0) {
              val cutoff = t0Micros + k * StepMicros - RetentionMicros
              r.tracer.span("LakeTable.retention")(table.deleteOlderThan(cutoff))
              if (cutoff > maxCutoff) maxCutoff = cutoff
            }
          }
          Thread.sleep(MaintenanceEveryMs)
        }
      }

      writer.join()
      stopMaintenance = true
      maintenance.join()
      writerDone = true
      bookkeeper.join()
    }
    query.processAllAvailable()
    query.stop()

    // ---- checks ----------------------------------------------------------
    val published = batches.filter(_.publishEndNs > 0)
    val halves = published.flatMap(b => Seq(b.tp1, b.tp2))
    val publishedRows = halves.size * RowsPerHalf
    val expected = halves.count(bucketEnd(_) > maxCutoff) * RowsPerHalf
    val tbl = spark.read.format("laketable").load(tableLoc)
    val committed = tbl.count()
    r.check("committed rows = published - retention-dropped",
      committed == expected, s"committed $committed expected $expected")
    val distinct = tbl.select("timeperiod_loadedBy", "message_id").distinct().count()
    r.check("no (timeperiod_loadedBy, message_id) twice", distinct == committed,
      s"$distinct distinct of $committed")
    val pending = Monikers.listPending(tableLoc).size
    r.check("no monikers left pending", pending == 0, s"$pending pending")
    r.check("every published batch committed",
      published.forall(_.committedNs > 0), "")
    val sinkOk = halves.forall(tp => seenRows.getOrDefault(tp, 0L) == RowsPerHalf) &&
      seenRows.size == halves.size
    r.check("streaming sink saw exactly the committed rows", sinkOk,
      s"${seenRows.size} timeperiods seen of ${halves.size}")

    // ---- measurements ----------------------------------------------------
    published.foreach { b =>
      if (b.seenNs > 0) r.sample("freshness_ms", r.ms(b.genStartNs, b.seenNs))
    }
    // rows per second from the window's start to its last commit, so a
    // batch in flight at the deadline neither counts nor stretches the span
    val inWindow = published.filter(b => b.committedNs > 0 && b.committedNs <= windowEndNs)
    val lastCommitNs = if (inWindow.isEmpty) windowEndNs else inWindow.map(_.committedNs).max
    r.put("ingest.window_s", (lastCommitNs - (deadline - r.seconds * 1000000000L)) / 1e9)
    r.put("ingest.rows_committed_in_window", inWindow.size * 2 * RowsPerHalf)
    r.put("ingest.rows_published", publishedRows)
    r.put("ingest.user_bytes", publishedRows * UserBytesPerRow)
    r.tableFacts(tableLoc)
    window
  }

  /** JIT and code-generation warm-up, untimed: a few batches through the
    * write, publish and sweep path of a scratch table. */
  def warmUp(r: Run, t0Micros: Long): Unit = {
    val loc = s"${r.work}/ingest/warmup"
    val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val bk = new FileBookkeeper(LakeTable.load(loc))
    for (k <- 0 until 3) {
      val tp = t0Micros - (k + 1) * StepMicros
      val df = LakeWriter.generateBatch(r.spark, RowsPerHalf, tp, k)
        .unionByName(LakeWriter.generateBatch(r.spark, RowsPerHalf, tp + Width + 1, k))
      Monikers.publish(loc, LakeWriter.writeDataFiles(df, table, filesPerPartition = 2))
      bk.sweep()
    }
    LakeTable.drop(loc)
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"perfbench-$name")
    t.start()
    t
  }
}

/** Per-trigger durations the streaming engine reports, for the triggers
  * that read rows. */
final class ProgressLog(r: Run) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val names = Seq("triggerExecution" -> "trigger_ms",
    "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "plan_ms",
    "addBatch" -> "add_batch_ms")
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      r.add("streaming.triggers", 1)
      r.add("streaming.rows", p.numInputRows.toDouble)
      names.foreach { case (k, n) =>
        r.sample(s"streaming.$n",
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      }
    }
  }
}
