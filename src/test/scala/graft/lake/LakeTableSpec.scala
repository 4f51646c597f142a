package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Table-format semantics (SURVEY §5.2): commit atomicity, snapshot
  * isolation/time travel, incremental reads, retention, expiry, idempotent
  * replay.
  */
class LakeTableSpec extends SparkSpec {

  private val Width = 300000000L // 5 minutes in µs
  private def bucket(i: Int): Long = (5666666L + i) * Width // aligned by construction

  private def newTable(): LakeTable = {
    val loc = tmpDir("laketable")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
  }

  private def appendBatch(t: LakeTable, rows: Long, micros: Long, seed: Long,
      filesPer: Int = 1): Long = {
    val df = LakeWriter.generateBatch(spark, rows, micros, seed)
    t.append(LakeWriter.writeDataFiles(df, t, filesPer))
  }

  test("deep-backlog catch-up parses each manifest once, not once per snapshot") {
    // 160-snapshot backlog with metadata-only appends (no Spark writes —
    // this tests PLANNING cost, and 160 > the 128-entry manifest cache so
    // an O(snapshots × inventory) walk would thrash the LRU and re-parse
    // quadratically)
    val loc = tmpDir("laketable-deep")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      properties = Map(LakeFormat.PropManifestMinMerge -> "1000"))
    val n = 160
    for (i <- 1 to n)
      t.append(Seq(DataFileMeta(s"$loc/data/fake-$i.parquet", 100L, 10L,
        bucket(0), "parquet", Map.empty)))
    LakeTable.manifestCache.clear()
    val before = LakeTable.manifestParses.get()
    val bySnap = t.addedFilesBySnapshot(0L, t.currentSnapshotId)
    val parses = LakeTable.manifestParses.get() - before
    assert(bySnap.size == n && bySnap.flatMap(_._2).size == n)
    // per-snapshot grouping is ordered and one-file-per-commit here
    assert(bySnap.map(_._1) == (1L to n.toLong))
    assert(parses <= n + 1, s"expected O(manifests)=$n parses, got $parses")
    // flat variant agrees
    assert(t.addedFilesBetween(0L, t.currentSnapshotId).map(_.path)
      == bySnap.flatMap(_._2).map(_.path))
  }

  test("repeat loads serve parsed metadata from cache; drop+recreate does not") {
    val loc = tmpDir("laketable-metacache")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    appendBatch(t, 10, bucket(0), seed = 1)
    LakeTable.load(loc) // prime
    val before = LakeTable.metaParses.get()
    val reloaded = LakeTable.load(loc)
    assert(LakeTable.metaParses.get() == before,
      "second load of an unchanged table must not re-parse vN.json")
    assert(reloaded.currentSnapshotId == t.currentSnapshotId)
    // a commit advances the version → new key → exactly one fresh parse
    appendBatch(t, 10, bucket(1), seed = 2)
    val t2 = LakeTable.load(loc)
    assert(t2.currentSnapshotId == t.currentSnapshotId)
    assert(LakeTable.metaParses.get() == before + 1)
    // drop + recreate at the SAME path reuses v0.json's name: the cache
    // must not serve the old table's metadata
    LakeTable.drop(loc)
    val fresh = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val seen = LakeTable.load(loc)
    assert(seen.currentSnapshotId == fresh.currentSnapshotId)
    assert(seen.files().isEmpty, "recreated table must read as empty")
  }

  test("empty edges: zero-commit scans, empty change ranges, empty compaction") {
    val t = newTable()
    // a freshly created table reads as empty THROUGH the DSv2 source
    // (planInputPartitions over zero files), with the declared schema
    val df = spark.read.format("laketable").load(t.location)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.contains("message_id"))
    // compaction on an empty table: nothing qualifies, no commit
    assert(t.compactFiles(spark) == -1L)
    val s1 = appendBatch(t, 25, bucket(0), seed = 9)
    // an empty (s1, s1] range is a schema-correct empty frame, not an error
    val none = t.changesBetween(spark, s1, s1)
    assert(none.count() == 0 && none.schema == t.schema)
    // and a full (0, s1] range still delivers the batch
    assert(t.changesBetween(spark, 0L, s1).count() == 25)
  }

  test("tags pin snapshots through expiry; rollback restores prior content") {
    val t = newTable()
    val s1 = appendBatch(t, 20, bucket(0), seed = 1)
    t.createTag("train-v1", s1)
    assert(t.tags == Map("train-v1" -> s1))
    val s2 = appendBatch(t, 30, bucket(1), seed = 2)
    assert(t.toDF(spark).count() == 50)

    // rollback: current content == the tagged vintage; history preserved
    t.rollbackTo(s1)
    assert(t.tableMeta.current.get.operation == "rollback")
    assert(t.toDF(spark).count() == 20)
    assert(t.snapshotDF(spark, s2).count() == 50) // time travel past the rollback

    // expiry pressure that keeps only the current snapshot by age/count:
    // the tagged snapshot (and transitively its files) must survive
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 60000,
      retainLast = 1)
    assert(t.snapshots.exists(_.id == s1))
    assert(t.snapshotDF(spark, s1).count() == 20)
    assert(!t.snapshots.exists(_.id == s2)) // un-tagged vintage expired

    // dropTag → expiry-eligible again; bad inputs rejected
    t.dropTag("train-v1")
    assert(t.tags.isEmpty)
    assert(t.dropTag("missing") == -1L)
    intercept[IllegalArgumentException](t.createTag("orphan", 999L))
    intercept[IllegalArgumentException](t.rollbackTo(999L))
  }

  test("addColumn: metadata-only commit, snapshotDF pins per-vintage schema") {
    val t = newTable()
    val s1 = appendBatch(t, 20, bucket(0), seed = 1)
    val filesBefore = t.files().map(_.path).toSet
    t.addColumn("score", org.apache.spark.sql.types.LongType)
    // metadata-only: no data file touched, one new snapshot
    assert(t.files().map(_.path).toSet == filesBefore)
    assert(t.tableMeta.current.get.operation == "alter")
    assert(t.schema.fieldNames.last == "score")
    assert(t.schemaAt(s1).fieldNames.toSeq == t.schema.fieldNames.dropRight(1).toSeq)
    // current read null-fills; time travel reads the old shape
    assert(t.toDF(spark).filter(col("score").isNull).count() == 20)
    assert(!t.snapshotDF(spark, s1).schema.fieldNames.contains("score"))
    intercept[IllegalArgumentException] {
      t.addColumn("SCORE", org.apache.spark.sql.types.LongType) // case-insensitive dupe
    }
  }

  test("typed Dataset[LakeEvent] generator matches the untyped schema") {
    val ds = LakeWriter.generateTypedBatch(spark, 10, bucket(0), seed = 5)
    val events = ds.collect()
    assert(events.length == 10)
    assert(events.forall(_.timeperiod_loadedBy == bucket(0)))
    assert(events.forall(_.message_body.length > 1000))
    assert(events.map(_.message_id).sorted.toSeq == (0L until 10L))
  }

  test("create + load round-trips schema, spec, and properties") {
    val t = newTable()
    val loaded = LakeTable.load(t.location)
    assert(loaded.schema == t.schema)
    assert(loaded.spec == TruncateSpec("timeperiod_loadedBy", Width))
    assert(loaded.tableMeta.properties(LakeFormat.PropManifestMinMerge) == "200")
    assert(loaded.currentSnapshotId == 0L)
  }

  test("append commits snapshots; toDF sees all rows; counts accumulate") {
    val t = newTable()
    val s1 = appendBatch(t, 100, bucket(0), seed = 1)
    val s2 = appendBatch(t, 50, bucket(1), seed = 2)
    assert(s1 == 1L && s2 == 2L)
    assert(t.toDF(spark).count() == 150)
    // fast append: snapshot 2 reuses snapshot 1's manifest untouched
    val m1 = t.tableMeta.snapshot(s1).get.manifests
    val m2 = t.tableMeta.snapshot(s2).get.manifests
    assert(m2.startsWith(m1) && m2.size == m1.size + 1)
  }

  test("time travel: snapshotDF pins to a version") {
    val t = newTable()
    val s1 = appendBatch(t, 100, bucket(0), seed = 1)
    appendBatch(t, 50, bucket(1), seed = 2)
    assert(t.snapshotDF(spark, s1).count() == 100)
    assert(t.snapshotDF(spark, 0L).count() == 0)
  }

  test("incremental read: changesBetween returns exactly the appended batch") {
    val t = newTable()
    val s1 = appendBatch(t, 100, bucket(0), seed = 1)
    val s2 = appendBatch(t, 50, bucket(1), seed = 2)
    val diff = t.changesBetween(spark, s1, s2)
    assert(diff.count() == 50)
    assert(diff.agg(min("timeperiod_loadedBy")).head.getLong(0) == bucket(1))
  }

  test("append is idempotent under moniker replay (path dedupe)") {
    val t = newTable()
    val df = LakeWriter.generateBatch(spark, 40, bucket(0), seed = 3)
    val files = LakeWriter.writeDataFiles(df, t)
    t.append(files)
    t.append(files) // replay — must not duplicate rows
    assert(t.toDF(spark).count() == 40)
  }

  test("retention delete drops exactly the aligned buckets, metadata-only") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), seed = 1)
    appendBatch(t, 20, bucket(1), seed = 2)
    appendBatch(t, 30, bucket(2), seed = 3)
    val before = t.files().map(_.path).toSet
    // cutoff inside bucket 1 → aligns down to bucket(1) → drops bucket 0 only
    val snap = t.deleteOlderThan(bucket(1) + 12345L)
    assert(snap > 0)
    assert(t.toDF(spark).count() == 50)
    // metadata-only: dropped file still physically present until expiry
    val after = t.files().map(_.path).toSet
    val dropped = (before -- after).head
    assert(new java.io.File(dropped).exists())
  }

  test("general-predicate deleteWhere rewrites only partially-matching files") {
    val t = newTable()
    appendBatch(t, 100, bucket(0), seed = 1)
    appendBatch(t, 50, bucket(1), seed = 2)
    // message_id < 30 matches part of batch 1 only
    val snap = t.deleteWhere(spark, col("message_id") < 30 && col("timeperiod_loadedBy") === bucket(0))
    assert(snap > 0)
    assert(t.toDF(spark).count() == 120)
    // batch-2 file untouched (same path as before)
    assert(t.files().exists(_.partitionValue == bucket(1)))
  }

  test("filesDF lists live file metadata without a driver-side collect") {
    val t = newTable()
    appendBatch(t, 40, bucket(0), seed = 11, filesPer = 4)
    appendBatch(t, 20, bucket(1), seed = 12, filesPer = 2)
    val viaDF = t.filesDF(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val viaSeq = t.files()
      .map(f => (f.path, f.sizeBytes, f.rowCount, f.partitionValue)).sortBy(_._1)
    assert(viaDF.toSeq == viaSeq)
    assert(viaDF.map(_._3).sum == 60)
  }

  test("deleteWhere over a many-file table touches only files containing matches") {
    val t = newTable()
    // many files across 4 buckets; the predicate covers one whole bucket
    for (i <- 0 until 4) appendBatch(t, 25, bucket(i), seed = 20 + i, filesPer = 4)
    val before = t.files().map(f => f.path -> f.partitionValue).toMap
    assert(before.size > 8)
    val snap = t.deleteWhere(spark, col("timeperiod_loadedBy") === bucket(2))
    assert(snap > 0)
    assert(t.toDF(spark).count() == 75)
    // exact set equality: bucket-2 files dropped metadata-only, every other
    // file keeps its original path — zero rewrites anywhere
    val expected = before.collect { case (p, pv) if pv != bucket(2) => p }.toSet
    assert(t.files().map(_.path).toSet == expected)
  }

  test("delete classification is a bounded dataflow over 10⁶ synthetic files") {
    import spark.implicits._
    // a million-file inventory never reaches the driver: the decision join
    // returns one (path, whole) row per file CONTAINING matches, nothing
    // else — here 3 rows out of 1,000,000
    val filesMeta = spark.range(1000000L).select(
      concat(lit("/data/f"), col("id")).as("path"), lit(100L).as("row_count"))
    val matched = Seq(("/data/f10", 100L), ("/data/f20", 60L), ("/data/f30", 40L))
      .toDF("path", "matched")
    // f30 has 60 rows already position-deleted → its 40 live rows all
    // matched → whole-file drop despite matched < row_count
    val delCounts = Seq(("/data/f30", 60L)).toDF("path", "dels")
    val out = LakeTable.classifyDeleteDecisions(filesMeta, matched, Some(delCounts))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("/data/f10" -> true, "/data/f20" -> false,
      "/data/f30" -> true))
    // and without pending deletes the comparison is against physical rows
    val out2 = LakeTable.classifyDeleteDecisions(filesMeta, matched, None)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out2 == Map("/data/f10" -> true, "/data/f20" -> false,
      "/data/f30" -> false))
  }

  test("deleteWhere keeps rows where the predicate evaluates to NULL") {
    val t = newTable()
    // half the rows have data = NULL; the predicate is NULL for them and
    // they must survive the copy-on-write rewrite
    val df = LakeWriter.generateBatch(spark, 100, bucket(0), seed = 9)
      .withColumn("data",
        when(col("message_id") % 2 === 0, col("data")).otherwise(lit(null)))
    t.append(LakeWriter.writeDataFiles(df, t))
    val snap = t.deleteWhere(spark, length(col("data")) > 0 && col("message_id") < 50)
    assert(snap > 0)
    // deleted: even ids < 50 (25 rows); NULL-data rows all kept
    assert(t.toDF(spark).count() == 75)
    assert(t.toDF(spark).filter(col("data").isNull).count() == 50)
  }

  test("expireSnapshots retains retainLast and physically deletes orphans") {
    val t = newTable()
    val first = appendBatch(t, 10, bucket(0), seed = 1)
    for (i <- 1 to 4) appendBatch(t, 10, bucket(i), seed = 10 + i)
    // explicit retainLast overrides the min-snapshots-to-keep default floor.
    // Note fast-append chains: any retained append snapshot still references
    // the bucket-0 manifest, so GC of its file requires retaining only the
    // post-delete snapshot (retainLast = 1).
    val deadFile = t.files(first).head.path
    t.deleteOlderThan(bucket(1)) // creates a delete snapshot dropping bucket 0
    val snap = t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(snap > 0)
    assert(t.snapshots.size == 2) // the delete snapshot + the expire snapshot
    assert(t.toDF(spark).count() == 40) // 50 appended − 10 retention-deleted
    assert(!new java.io.File(deadFile).exists()) // orphaned bucket-0 file GC'd
  }

  test("compactFiles bin-packs small files per partition, copy-on-write") {
    val t = newTable()
    // 4 small files in bucket 0 (filesPer=2 × 2 appends), 1 in bucket 1
    appendBatch(t, 40, bucket(0), seed = 1, filesPer = 2)
    appendBatch(t, 40, bucket(0), seed = 2, filesPer = 2)
    appendBatch(t, 20, bucket(1), seed = 3)
    val before = t.files()
    assert(before.count(_.partitionValue == bucket(0)) == 4)
    val oldSnapshot = t.currentSnapshotId
    val snap = t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 2)
    assert(snap > 0)
    // rows unchanged, bucket-0 files merged into one
    assert(t.toDF(spark).count() == 100)
    assert(t.files().count(_.partitionValue == bucket(0)) == 1)
    // bucket 1 had a single file → untouched (same path)
    val b1 = before.filter(_.partitionValue == bucket(1)).map(_.path).toSet
    assert(t.files().filter(_.partitionValue == bucket(1)).map(_.path).toSet == b1)
    // time travel still sees the pre-compaction layout
    assert(t.snapshotDF(spark, oldSnapshot).count() == 100)
    // second run: nothing left to compact
    assert(t.compactFiles(spark) == -1L)
  }

  test("clustering compaction yields disjoint sort ranges that prune point queries") {
    val t = newTable()
    // 3 small files, each covering the SAME message_id range 0..99 — the
    // post-ingest state where every file overlaps every key range
    for (s <- 1 to 3) appendBatch(t, 100, bucket(0), seed = s)
    assert(t.files().size == 3)
    val snap = t.compactFiles(spark, sortBy = Seq("message_id"),
      maxRecordsPerFile = 100)
    assert(snap > 0)
    val after = t.files()
    assert(after.size == 3) // 300 rows / 100 per file
    // sorted id ranges across sibling files overlap at most at a boundary
    // key whose duplicates straddle the split (clustering payoff)
    val ranges = after.map(f => (f.stats("message_id").longMin.get,
      f.stats("message_id").longMax.get)).sorted
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi <= lo, s"interleaved ranges $ranges")
    case _ => }
    // a point query now prunes to exactly one file
    val df = spark.read.format("laketable").load(t.location)
      .filter(org.apache.spark.sql.functions.col("message_id") === 50L)
    assert(df.count() == 3) // id 50 existed in each input file
    assert(df.rdd.getNumPartitions == 1)
    assert(t.toDF(spark).count() == 300)
  }

  test("z-order compaction prunes on BOTH dimensions; lexicographic only on the first") {
    import org.apache.spark.sql.functions.{col, lit}
    def grid(loc: String): LakeTable = {
      LakeTable.drop(loc)
      val t = LakeTable.create(loc, "a BIGINT, b BIGINT, p BIGINT",
        TruncateSpec("p", 1000L))
      // 64x64 independent grid in ONE partition bucket, scattered over
      // 4 ingest files so every file initially spans both full ranges
      for (s <- 0 until 4)
        t.append(LakeWriter.writeDataFiles(
          spark.range(0, 4096).filter(col("id") % 4 === s).selectExpr(
            "id % 64 AS a", "CAST(id / 64 AS BIGINT) AS b", "0L AS p"), t))
      t
    }
    def plannedFiles(t: LakeTable, pred: org.apache.spark.sql.Column): Int = {
      val c = spark.read.format("laketable").load(t.location)
        .filter(pred).count() // executes the scan -> metrics updated
      assert(c > 0)
      graft.lake.dsv2.LakeScanMetrics.lastPlannedFiles
    }
    // z-order: quadrant files -> both dims prune to half the files
    val tz = grid(tmpDir("laketable-zorder"))
    val rowsDf = tz.toDF(spark)
    assert(rowsDf.count() == 4096)
    assert(tz.compactFiles(spark, zorderBy = Seq("a", "b"),
      maxRecordsPerFile = 1024) > 0)
    assert(tz.toDF(spark).count() == 4096)
    val zA = plannedFiles(tz, col("a") < 16)
    val zB = plannedFiles(tz, col("b") < 16)
    assert(zA <= 2, s"z-order a-pruning planned $zA files")
    assert(zB <= 2, s"z-order b-pruning planned $zB files")
    // lexicographic (a, b): a prunes, b cannot (every file spans all b)
    val tl = grid(tmpDir("laketable-lexsort"))
    assert(tl.compactFiles(spark, sortBy = Seq("a", "b"),
      maxRecordsPerFile = 1024) > 0)
    val lA = plannedFiles(tl, col("a") < 16)
    val lB = plannedFiles(tl, col("b") < 16)
    assert(lA <= 2, s"lex a-pruning planned $lA files")
    assert(lB == 4, s"lex b-pruning should NOT prune, planned $lB files")
  }

  test("compaction's survivor list bins at merge.max-entries too") {
    val loc = tmpDir("laketable-compact-bins")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropManifestMergeMaxEntries -> "3",
        // merge threshold above the commit count so ONLY the compaction
        // path's writeManifests is what produces the binned layout
        LakeFormat.PropManifestMinMerge -> "100"))
    for (i <- 0 until 8)
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i % 3), seed = 70 + i), t))
    assert(t.compactFiles(spark, minInputFiles = 1) > 0)
    val sizes = t.tableMeta.current.get.manifests.map(m => t.readManifest(m).size)
    assert(sizes.forall(_ <= 3), s"unbounded survivor manifest: $sizes")
    assert(sizes.sum == t.files().size)
    assert(t.toDF(spark).count() == 80)
  }

  test("immutable manifests parse once; repeat planning hits the cache") {
    val t = newTable()
    for (s <- 1 to 3) appendBatch(t, 10, bucket(s), seed = 40 + s)
    t.files() // warm every manifest
    val before = LakeTable.manifestParses.get()
    t.files(); t.files(1); t.filesDF(spark) // filesDF parses executor-side
    assert(LakeTable.manifestParses.get() == before,
      "repeat planning re-parsed cached manifests")
    // a new commit's manifest is a NEW name -> exactly one more parse
    appendBatch(t, 5, bucket(9), seed = 44)
    t.files()
    assert(LakeTable.manifestParses.get() == before + 1)
  }

  test("manifest compaction merges at the min-count-to-merge threshold") {
    val loc = tmpDir("laketable-merge")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropManifestMinMerge -> "3"))
    appendBatch(t, 5, bucket(0), seed = 1)
    appendBatch(t, 5, bucket(1), seed = 2)
    assert(t.tableMeta.current.get.manifests.size == 2)
    appendBatch(t, 5, bucket(2), seed = 3) // 3rd manifest → merge
    assert(t.tableMeta.current.get.manifests.size == 1)
    assert(t.toDF(spark).count() == 15)
  }

  test("manifest merge bins at merge.max-entries and never rewrites full bins") {
    val loc = tmpDir("laketable-merge-bins")
    LakeTable.drop(loc)
    // merge every 4 manifests; each merged bin holds <= 6 file entries
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropManifestMinMerge -> "4",
        LakeFormat.PropManifestMergeMaxEntries -> "6"))
    def manifestSizes(): Seq[(String, Int)] =
      t.tableMeta.current.get.manifests.map(m => m -> t.readManifest(m).size)
    // 2-file appends: the 4th commit triggers a merge of 8 entries ->
    // two bins (6 + 2), never one unbounded manifest
    for (i <- 0 until 4)
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i % 3), seed = 10 + i),
        t, filesPerPartition = 2))
    val afterFirst = manifestSizes()
    assert(afterFirst.map(_._2).forall(_ <= 6),
      s"unbounded merged manifest: $afterFirst")
    assert(afterFirst.size >= 2, s"single giant bin: $afterFirst")
    val fullBins = afterFirst.filter(_._2 >= 3).map(_._1).toSet // >= cap/2
    assert(fullBins.nonEmpty)
    // more appends to trigger a SECOND merge: the full bins carry over
    // by name (no rewrite), only the small tail re-bins
    for (i <- 4 until 8)
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i % 3), seed = 10 + i),
        t, filesPerPartition = 2))
    val afterSecond = manifestSizes()
    assert(afterSecond.map(_._2).forall(_ <= 6),
      s"unbounded merged manifest: $afterSecond")
    assert(fullBins.subsetOf(afterSecond.map(_._1).toSet),
      s"full bins were rewritten: $fullBins vs ${afterSecond.map(_._1)}")
    // nothing lost or duplicated through both merges
    assert(t.toDF(spark).count() == 80)
    assert(t.files().map(_.path).distinct.size == t.files().size)
  }

  test("filesPerPartition gives the file count it names") {
    val t = newTable()
    // 4 single-bucket batches at n = 4 -> 4 files each
    val perBatch = (0 until 4).map { i =>
      val files = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 40, bucket(i), seed = 80 + i),
        t, filesPerPartition = 4)
      t.append(files)
      files.size
    }
    assert(perBatch == Seq(4, 4, 4, 4))
    assert(t.files().size == 16)
    // one 2-bucket batch at n = 2 -> 2 files per bucket, row counts
    // within 1 of each other
    val files = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 51, bucket(5), seed = 90)
        .unionByName(LakeWriter.generateBatch(spark, 50, bucket(6), seed = 91)),
      t, filesPerPartition = 2)
    assert(files.groupBy(_.partitionValue).view.mapValues(_.size).toMap ==
      Map(bucket(5) -> 2, bucket(6) -> 2))
    val counts = files.map(_.rowCount)
    assert(counts.sum == 101 && counts.max - counts.min <= 1, s"row counts $counts")
  }

  test("stats-pruned scan skips files outside the partition range") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), seed = 1)
    appendBatch(t, 20, bucket(1), seed = 2)
    appendBatch(t, 30, bucket(2), seed = 3)
    val pruned = t.scan(spark,
      partitionMin = Some(bucket(1)), partitionMax = Some(bucket(1)))
    assert(pruned.count() == 20)
    // column-stats pruning on message_id range
    val statsPruned = t.scan(spark, colRanges = Map("message_id" -> (25L, 29L)))
    assert(statsPruned.count() == 30) // only the 30-row batch has ids ≥ 25
  }

  test("concurrent committers: optimistic retry lands all appends") {
    val t = newTable()
    val batches = (0 until 4).map { i =>
      LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i), seed = 20 + i), t)
    }
    val threads = batches.map { files =>
      new Thread(() => {
        val local = LakeTable.load(t.location)
        local.append(files)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    t.refresh()
    assert(t.toDF(spark).count() == 40)
    assert(t.currentSnapshotId == 4L)
  }
}
