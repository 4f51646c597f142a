package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `LakeWriter.writeDataFiles`: routing (`splitBy` disjointness), footer
  * parity of the returned stats, the timestamp encoding it writes without
  * touching session conf, and cleanup of a failed write.
  */
class LakeWriterSpec extends SparkSpec {

  private def newTable(prefix: String, ddl: String, spec: TruncateSpec,
      props: Map[String, String] = Map.empty): LakeTable = {
    val loc = tmpDir(prefix)
    LakeTable.drop(loc)
    LakeTable.create(loc, ddl, spec, props)
  }

  private def dataFiles(t: LakeTable): Set[String] = {
    val dir = new java.io.File(t.location, LakeFormat.DataDir)
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath)
    walk(dir).filter(_.endsWith(".parquet")).toSet
  }

  test("splitBy files hold disjoint sort-key ranges within each bucket") {
    val t = newTable("lakewriter-split", "h BIGINT, id BIGINT, p BIGINT",
      TruncateSpec("p", 1L))
    // 2 buckets x 16 split groups (top 4 bits of h) over 4 write tasks:
    // more groups than tasks, so every task sees several groups per bucket
    val df = spark.range(0, 8000)
      .select(xxhash64(col("id")).as("h"), col("id"), (col("id") % 2).as("p"))
    val files = LakeWriter.writeDataFiles(df, t, sortBy = Seq("h"),
      maxRecordsPerFile = 300L, splitBy = Seq(shiftright(col("h"), 60)))
    assert(files.map(_.rowCount).sum == 8000)
    files.groupBy(_.partitionValue).foreach { case (b, fs) =>
      val ranges = fs.map(f => (f.stats("h").longMin.get, f.stats("h").longMax.get))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi < lo, s"bucket $b: overlapping file ranges $ranges")
        case _ =>
      }
    }
  }

  test("returned stats equal a footer re-read; INT64 µs timestamps; bloom filter; session conf untouched") {
    val t = newTable("lakewriter-parity",
      "id BIGINT, p BIGINT, name STRING, ts TIMESTAMP, nothing STRING",
      TruncateSpec("p", 10L), Map(LakeFormat.PropBloomColumns -> "id"))
    val df = spark.range(0, 300).select(col("id"), (col("id") % 30).as("p"),
      concat(lit("Zürich-"), col("id").cast("string")).as("name"),
      timestamp_micros(lit(1600000000000000L) + col("id")).as("ts"),
      lit(null).cast("string").as("nothing"))
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val conf = LakeTable.hadoopConf
    spark.conf.set(tsKey, "INT96")
    try {
      val one = LakeWriter.writeDataFiles(df, t, sortExprs = Seq(-col("id")))
      // two writes at once on driver futures: neither may leak a session
      // conf change into the other, or past both
      val both = Seq(1, 2).map(_ => Future(LakeWriter.writeDataFiles(df, t)))
        .flatMap(Await.result(_, 5.minutes))
      assert(spark.conf.get(tsKey) == "INT96")
      assert(one.size == 3 && both.size == 6)
      for (m <- one ++ both) {
        val path = new Path(m.path)
        assert(m == LakeWriter.footerMeta(conf, path, m.partitionValue))
        assert(m.stats("nothing").nullCount.contains(m.rowCount))
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try {
          val ts = reader.getFooter.getFileMetaData.getSchema.getFields.asScala
            .find(_.getName == "ts").get.asPrimitiveType()
          assert(ts.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64)
          val ann = ts.getLogicalTypeAnnotation
            .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
          assert(ann.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS)
          val block = reader.getFooter.getBlocks.get(0)
          val idCol = block.getColumns.asScala.find(_.getPath.toDotString == "id").get
          assert(reader.readBloomFilter(idCol) != null, s"no bloom filter in $path")
        } finally reader.close()
      }
      // sortExprs ordered the rows: each file's ids descend
      val first = spark.read.parquet(one.head.path).select("id").collect()
        .map(_.getLong(0)).toSeq
      assert(first == first.sorted.reverse)
    } finally spark.conf.unset(tsKey)
  }

  test("a failed write throws and leaves no file, staging dir or commit") {
    val t = newTable("lakewriter-fail", LakeWriter.EventSchemaDdl,
      LakeWriter.EventSpec)
    val width = LakeWriter.EventSpec.widthMicros
    def batch = (0 until 4).map(i => LakeWriter.generateBatch(spark, 200,
      (5666666L + i) * width, seed = 300 + i)).reduce(_ unionByName _)
    t.append(LakeWriter.writeDataFiles(batch, t))
    val before = t.files().map(_.path).toSet
    val onDisk = dataFiles(t)
    val boom = when(col("message_id") === 77L, raise_error(lit("boom")))
    // the raise fires in the input's projection (before any write task)
    // and in a sort key (inside one write task, beside tasks that finish)
    val writes: Seq[() => Seq[DataFileMeta]] = Seq(
      () => LakeWriter.writeDataFiles(
        batch.withColumn("data", coalesce(boom.cast("string"), col("data"))), t),
      () => LakeWriter.writeDataFiles(batch, t,
        sortExprs = Seq(coalesce(boom.cast("long"), col("message_id")))))
    for (write <- writes) {
      val e = intercept[Exception](write())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
      // tasks the failed job cancelled may still be finishing
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(dataFiles(t) == onDisk)
      assert(!new java.io.File(t.location).list().exists(_.startsWith("_tmp-write-")))
      t.refresh()
      assert(t.files().map(_.path).toSet == before)
    }
  }
}
