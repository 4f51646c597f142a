package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Commit portability (SURVEY §7.5 #1): the optimistic commit protocol is
  * only as atomic as its create-if-absent primitive, and object stores
  * have none in the FileSystem API. These tests drive the REAL commit
  * protocol over [[MockObjectStoreFileSystem]] (rename = check-then-act
  * overwrite, the s3a shape) and prove:
  *  1. the hazard is real — the mock's rename double-publishes;
  *  2. an installed conditional-put CAS makes racing committers settle
  *     every version exactly once (loser retries, no lost update);
  *  3. unregistered flat-store schemes fall back to best-effort
  *     rename-if-absent (single-committer posture) rather than failing.
  */
class CommitCasSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  // shared conditional-put emulation — see [[ConditionalPutCas]]
  private val CondPut = ConditionalPutCas

  private def mockLoc(prefix: String): String =
    "mocks3:" + tmpDir(prefix)

  test("the mock store's rename really does double-publish (the hazard)") {
    val fs = new Path(mockLoc("cas-hazard")).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[MockObjectStoreFileSystem])
    val dir = new Path(mockLoc("cas-hazard2"))
    fs.mkdirs(dir)
    def put(name: String, content: String): Boolean = {
      val tmp = new Path(dir, s".$name-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, new Path(dir, name))
    }
    assert(put("v1.json", "committer A"))
    assert(put("v1.json", "committer B"), "mock rename should overwrite")
    val in = fs.open(new Path(dir, "v1.json"))
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(content == "committer B", "A's commit was NOT lost?")
  }

  test("unregistered flat-store scheme falls back to rename-if-absent") {
    CommitCas.unregister("mocks3")
    assert(CommitCas.forScheme("mocks3") eq CommitCas.RenameIfAbsent)
    assert(CommitCas.forScheme("file") eq CommitCas.HardLink)
    assert(CommitCas.forScheme("hdfs") eq CommitCas.RenameIfAbsent)
    assert(CommitCas.forScheme("abfss") eq CommitCas.RenameIfAbsent)
  }

  test("conditional-put CAS: stale committers retry, no version double-publishes") {
    CommitCas.register("mocks3", CondPut)
    try {
      val loc = mockLoc("cas-race")
      LakeTable.drop(loc)
      val t1 = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      // a second, independently-loaded instance — its cached metadata goes
      // stale the moment t1 commits
      val t2 = LakeTable.load(loc)
      val before = CondPut.attempts.get()
      t1.append(Seq(DataFileMeta(s"$loc/data/a.parquet", 100L, 10L, bucket(0))))
      // t2 still believes the version counter is where t1 found it: its
      // first CAS attempt targets the version t1 just published, LOSES
      // (conditional put refuses), and the retry loop re-derives the
      // commit against refreshed metadata
      t2.append(Seq(DataFileMeta(s"$loc/data/b.parquet", 100L, 10L, bucket(0))))
      val t = LakeTable.load(loc)
      val paths = t.files().map(_.path).toSet
      assert(paths == Set(s"$loc/data/a.parquet", s"$loc/data/b.parquet"),
        s"lost update: $paths")
      assert(t.snapshots.map(_.id).distinct.size == t.snapshots.size)
      // the stale committer must have burned at least one failed attempt
      assert(CondPut.attempts.get() - before >= 3,
        "expected a lost CAS + retry on the stale instance")

      // 4-way thread race on fresh instances: every committer wins
      // eventually, every version publishes exactly once
      val racers = (0 until 4).map { i =>
        new Thread(() => {
          val ti = LakeTable.load(loc)
          ti.append(Seq(DataFileMeta(s"$loc/data/r$i.parquet", 100L, 10L,
            bucket(0))))
        })
      }
      racers.foreach(_.start()); racers.foreach(_.join())
      val fin = LakeTable.load(loc)
      val finPaths = fin.files().map(_.path).toSet
      (0 until 4).foreach(i => assert(finPaths(s"$loc/data/r$i.parquet"),
        s"racer $i's commit lost"))
      // each metadata version token went through exactly one successful
      // conditional put (published is a SET keyed by path — a double
      // publish would have needed the hazard rename, which the CAS never
      // calls), and the snapshot chain is gap-free
      val ids = fin.snapshots.map(_.id).sorted
      assert(ids == (ids.min to ids.max), s"version chain has gaps: $ids")
    } finally CommitCas.unregister("mocks3")
  }

  test("stale handle: alter, stage, rollback and rewrite_manifests retry " +
      "through the one commit loop and count their lost CAS") {
    CommitCas.register("mocks3", CondPut)
    try {
      // (op, whether its snapshot carries main's manifests forward, run it
      // on the stale handle given the rollback target)
      val ops: Seq[(String, Boolean, (LakeTable, Long) => Long)] = Seq(
        ("setPartitionWidth", true, (t, _) => t.setPartitionWidth(2 * Width)),
        ("addColumn", true, (t, _) =>
          t.addColumn("extra", org.apache.spark.sql.types.IntegerType)),
        ("renameColumn", true, (t, _) => t.renameColumn("data", "payload")),
        ("stageAppend", true, (t, _) => t.stageAppend(Seq(DataFileMeta(
          s"${t.location}/data/staged.parquet", 100L, 10L, bucket(3))), "audit")),
        ("rollbackTo", false, (t, base) => t.rollbackTo(base)),
        ("rewriteManifests", true, (t, _) => t.rewriteManifests()))
      val uncounted = ops.filter { case (name, carries, op) =>
        val loc = mockLoc(s"stale-$name")
        LakeTable.drop(loc)
        val t1 = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
        // two manifests before the stale load, so rewriteManifests has work
        // on both the stale and the refreshed metadata
        t1.append(Seq(DataFileMeta(s"$loc/data/a0.parquet", 100L, 10L, bucket(0))))
        t1.append(Seq(DataFileMeta(s"$loc/data/a1.parquet", 100L, 10L, bucket(1))))
        val base = t1.currentSnapshotId
        val t2 = LakeTable.load(loc)
        val t1File = s"$loc/data/b.parquet"
        t1.append(Seq(DataFileMeta(t1File, 100L, 10L, bucket(2))))
        val retriesBefore = LakeTable.commitRetries.get()
        val id = op(t2, base)
        val t = LakeTable.load(loc)
        assert(id >= 0 && t.snapshots.exists(_.id == id), s"$name did not land")
        val ids = t.snapshots.map(_.id).sorted
        assert(ids == (ids.min to ids.max), s"$name: version chain has gaps: $ids")
        if (carries)
          assert(t.files(id).map(_.path).contains(t1File),
            s"$name dropped the concurrent append's file")
        LakeTable.commitRetries.get() - retriesBefore < 1
      }.map(_._1)
      assert(uncounted.isEmpty, s"lost CAS not counted for: $uncounted")
    } finally CommitCas.unregister("mocks3")
  }

  test("retry exhaustion names the operation (append, rollbackTo)") {
    val loc = tmpDir("cas-exhaust")
    LakeTable.drop(loc)
    val t1 = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    t1.setProperty(LakeFormat.PropCommitRetries, "1")
    t1.append(Seq(DataFileMeta(s"$loc/data/a.parquet", 100L, 10L, bucket(0))))
    val base = t1.currentSnapshotId
    val ops: Seq[(String, LakeTable => Long)] = Seq(
      "append" -> (_.append(Seq(
        DataFileMeta(s"$loc/data/stale.parquet", 100L, 10L, bucket(0))))),
      "rollback" -> (_.rollbackTo(base)))
    ops.zipWithIndex.foreach { case ((name, op), i) =>
      val t2 = LakeTable.load(loc)
      t1.append(Seq(DataFileMeta(s"$loc/data/b$i.parquet", 100L, 10L, bucket(1))))
      // one allowed attempt, lost to t1's commit: no retry is left
      val e = intercept[IllegalStateException](op(t2))
      assert(e.getMessage == s"$name failed after 1 retries")
    }
    LakeTable.drop(loc)
  }

  test("5-way local-FS append storm: no commit lost, no committer dies " +
      "(jittered backoff defeats retry-exhaustion starvation)") {
    // The round-10 contention probe caught this for real: without
    // backoff, a loser re-derives at full speed, stays phase-locked with
    // the pack, and can lose commit.retry.num-retries straight races —
    // the thread then dies and every one of its remaining commits is
    // silently lost. The fix (retryBackoff: doubling + jitter) must keep
    // ALL commits under genuine 5-way contention.
    val loc = tmpDir("cas-storm")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val threads = 5
    val per = 40
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    val futures = (0 until threads).map { th =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val t = LakeTable.load(loc)
          start.await()
          for (i <- 0 until per) {
            t.append(Seq(DataFileMeta(s"$loc/data/t$th-f$i.parquet",
              1024L, 10L, 5666666L * 300000000L)))
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES))
    futures.foreach(_.get()) // a dead committer surfaces here
    val fin = LakeTable.load(loc)
    assert(fin.files().size == threads * per,
      s"lost commits: ${fin.files().size} of ${threads * per} files")
    assert(fin.currentSnapshotId == threads.toLong * per)
    val ids = fin.snapshots.map(_.id).sorted
    assert(ids == (ids.min to ids.max), s"version chain has gaps: $ids")
    LakeTable.drop(loc)
  }

  test("two-maintainer stats-shard race: concurrent per-maintainer property " +
      "rolls conserve mass (the absolute-single-key design lost updates here)") {
    // The BM25 index's corpus stats are sharded one property key per
    // maintainer (LakeQueries.bm25StatsKey): each maintainer's
    // read-increment-write touches only its own key, and a commit's CAS
    // retry re-merges that key onto the REFRESHED property map — so two
    // maintainers interleaving postings+stats commits can never overwrite
    // each other's accumulated mass. This storm drives both maintainers
    // through the real epoch-fenced commit path and asserts the folded
    // family equals the sum of everything both committed.
    val loc = tmpDir("stats-race")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val per = 30
    val L = graft.queries.LakeQueries
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val futures = Seq("a", "b").map { m =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val t = LakeTable.load(loc)
          val own = L.bm25StatsKey(m)
          start.await()
          var n = 0L
          var sd = 0L
          for (i <- 0 until per) {
            n += 1L
            sd += 10L
            t.appendEpoch(Seq(DataFileMeta(s"$loc/data/$m-f$i.parquet",
              1024L, 10L, 5666666L * 300000000L)), s"maint-$m", i.toLong,
              extraProps = Map(own -> s"$n:$sd"))
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES))
    futures.foreach(_.get())
    val fin = LakeTable.load(loc)
    val (n, sd) = L.bm25FoldStats(fin.tableMeta.properties)
    assert(n == 2L * per && sd == 2L * per * 10L,
      s"stats mass lost under the two-maintainer race: folded $n:$sd " +
        s"(expected ${2 * per}:${2 * per * 10})")
    assert(fin.files().size == 2 * per,
      s"lost commits: ${fin.files().size} of ${2 * per}")
    LakeTable.drop(loc)
  }

  test("bounded-tail backoff ladder: jittered doubling through 16x, " +
      "then decay — a long-loser is never held at ladder-cap sleeps") {
    val base = 10L
    // ladder phase: each window's cap doubles and the ±50% jitter floor
    // tracks it — consecutive losers land on ever-sparser schedules
    val ladder = (1 to 4).map(LakeTable.backoffWindowMs(base, _))
    assert(ladder == Seq((10L, 20L), (20L, 40L), (40L, 80L), (80L, 160L)),
      s"ladder shape drifted: $ladder")
    // decay phase (r12 verdict item 5): once the ladder is spent the
    // window drops to base..4x base and STAYS there — the 11.5 s
    // contention p99 was a loser paying 64x-cap sleeps per round against
    // fresh attempt-0 rivals; age must increase race frequency, not
    // decrease it. The floor of one base (r13 advice) keeps each spent
    // retry buying ≥ base of desynchronization, so a budget of R retries
    // covers ≥ (R-4)·base of pack drain in wall time.
    for (attempt <- Seq(5, 6, 10, 50, 1000)) {
      assert(LakeTable.backoffWindowMs(base, attempt) == (10L, 40L),
        s"decay window at attempt $attempt != (base, 4x base)")
    }
    // the decay ceiling sits BELOW the ladder peak: a long-suffering
    // committer always races more often than a freshly-desynchronized one
    assert(LakeTable.backoffWindowMs(base, 5)._2 < ladder.last._2,
      "decay ceiling must undercut the ladder peak")
  }
}
