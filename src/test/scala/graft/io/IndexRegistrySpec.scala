package graft.io

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.index._
import graft.transform._
import org.apache.spark.sql.functions._

/** The persistence registry's load-time validation and commit marker,
  * driven by the registry's own family table so a new family is
  * covered without editing this file. */
class IndexRegistrySpec extends SparkTestBase {

  private lazy val b = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()

  /** One small index per family; minmax twice so both of its optional
    * inner states (SQ range, PQ codebooks) are on disk once. */
  private def instances: Seq[Any] = {
    val bcodes = b.select(col("id"), graft.functions.sign_bits(col("vec")).as("code"))
    val dim = b.select(size(col("vec"))).first().getInt(0)
    val rot = Linear(Transforms.randomRotation(dim, 1234L).a)
    val th = Some(Array.tabulate(dim)(i => 0.01 * (i % 5 - 2)))
    val ivfRq = IvfRq.build(b, "id", "vec", nlist = 4, levels = 2, k = 16,
      niterCoarse = 2, niterRq = 2)
    Seq(
      IvfIndex.build(b, "id", "vec", nlist = 4, niter = 2),
      SqIndex.build(b, "id", "vec"),
      PqIndex.build(b, "id", "vec", m = 8, ksub = 16, niter = 2),
      IvfPqIndex.build(b, "id", "vec", nlist = 4, m = 8, ksub = 16,
        niterCoarse = 2, niterPq = 2),
      TwoLayerIndex.build(b, "id", "vec", nlist = 4, m = 8, ksub = 16,
        niterCoarse = 2, niterPq = 2),
      BinaryIvfIndex.buildFromVectors(b, "id", "vec", nlist = 4, niter = 2),
      ImiIndex.build(b, "id", "vec", ksub = 4, niter = 2),
      ImiPqIndex.build(b, "id", "vec", ksub = 4, m = 8, pqKsub = 16,
        niterCoarse = 2, niterPq = 2),
      MiqTwoLayerIndex.build(b, "id", "vec", mCoarse = 2, nbit = 4, m = 8,
        ksub = 16, niterCoarse = 2, niterPq = 2),
      IvfSpectralHash.build(b, "id", "vec", nlist = 4, nbit = 16, period = 1.0,
        thresholdType = "median", niter = 2),
      Pq4FastScanIndex.build(b, "id", "vec", m = 8, niter = 2),
      IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 4, m = 8,
        niterCoarse = 2, niterPq = 2),
      IvfPq4FastScanRIndex.build(b, "id", "vec", nlist = 4, m = 8,
        niterCoarse = 2, niterPq = 2),
      Rq4FastScanIndex.build(b, "id", "vec", levels = 2, niter = 2),
      IvfRq4FastScanIndex.build(b, "id", "vec", nlist = 4, levels = 2,
        niterCoarse = 2, niter = 2),
      IvfRq4FastScanRIndex.build(b, "id", "vec", nlist = 4, levels = 2,
        niterCoarse = 2, niter = 2),
      IvfSqIndex.build(b, "id", "vec", nlist = 4, niter = 2, byResidual = true,
        qtype = "SQ8"),
      ivfRq,
      new IvfRqNormIndex(ivfRq, ivfRq.codes.withColumn("nq", lit(1.0)), nonorm = false),
      bcodes,
      BinaryHashIndex.build(bcodes, b = 6),
      new BinaryMultiHashIndex(4, 8, bcodes),
      new LshIndex(rot, th, b.select(col("id"),
        LshIndex.signBits(rot, th, col("vec")).as("code"))),
      Lattice.build(b, "id", "vec", nsq = 16, scaleNbit = 8, r2 = 10),
      MinMaxCodec.buildIndex(b, "id", "vec", "SQ8", fp16Coeffs = false, niter = 2),
      MinMaxCodec.buildIndex(b, "id", "vec", "PQ8", fp16Coeffs = false, niter = 2),
      RefineFlatIndex.build(b, "id", "vec", kFactor = 3))
  }

  private def copyTree(from: Path, to: Path): Path = {
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to
  }

  test("every family's load fails fast, naming the component path, when a " +
    "component is deleted or emptied, or a grid-shaped component loses a row") {
    val root = Files.createTempDirectory("registry_trunc")
    try {
      val saved = instances.zipWithIndex.map { case (idx, i) =>
        val d = root.resolve(s"saved$i")
        IndexIO.save(idx, d.toString)
        (IndexIO.loadKind(spark, d.toString), d)
      }
      assert(saved.map(_._1).toSet == IndexIO.families.map(_.kind).toSet)
      var n = 0
      def expectFailure(kind: String, d: Path, comp: String, how: String): Unit = {
        val e = intercept[IllegalArgumentException](IndexIO.load[Any](spark, d.toString))
        assert(e.getMessage.contains(d.resolve(comp).toString),
          s"$kind/$comp $how: message does not name the path: ${e.getMessage}")
        n += 1
      }
      /** A copy of `d` with component `c` changed by `f`, which must fail the load. */
      def broken(kind: String, d: Path, c: String, how: String)(f: Path => Unit): Unit = {
        val t = copyTree(d, root.resolve(s"${d.getFileName}_${c}_${how.replace(' ', '_')}"))
        f(t.resolve(c))
        expectFailure(kind, t, c, how)
      }
      def rewrite(part: Path)(lines: Seq[String] => Seq[String]): Unit = {
        Files.write(part, lines(Files.readAllLines(part).asScala.toSeq.filter(_.nonEmpty)).asJava)
        Files.deleteIfExists(part.resolveSibling(".part-00000.json.crc"))
      }
      for ((kind, d) <- saved;
           c <- IndexIO.families.find(_.kind == kind).get.components
           if Files.exists(d.resolve(c.name))) {
        broken(kind, d, c.name, "deleted")(graft.streaming.StreamingIngest.rmTree)
        if (Files.exists(d.resolve(c.name).resolve("part-00000.json")))
          broken(kind, d, c.name, "emptied")(p => rewrite(p.resolve("part-00000.json"))(_ => Nil))
        if (c.grid)
          broken(kind, d, c.name, "missing its last row")(p =>
            rewrite(p.resolve("part-00000.json"))(_.init))
      }
      assert(n > 2 * IndexIO.families.size)
    } finally graft.streaming.StreamingIngest.rmTree(root)
  }

  test("the kind tag is the commit marker: a save whose codes write fails " +
    "leaves no kind, and load reports it") {
    val d = Files.createTempDirectory("registry_commit").toString
    val good = SqIndex.build(b, "id", "vec")
    IndexIO.save(good, d)
    assert(IndexIO.loadKind(spark, d) == "sq")
    val boom = udf { (c: Array[Byte]) =>
      if (c != null) throw new IllegalStateException("codes write fails"); c
    }
    val bad = new SqIndex(good.vmin, good.vdiff,
      good.codes.withColumn("code", boom(col("code"))), good.qtype)
    intercept[Exception](IndexIO.save(bad, d))
    val e = intercept[IllegalArgumentException](IndexIO.load[Any](spark, d))
    assert(e.getMessage.contains("no kind tag"))
  }

  test("only io/IndexIO.scala and io/JsonSidecar.scala touch sidecars or " +
    "kind tags under src/main") {
    val pat = "JsonSidecar|writeSidecar|saveKind".r
    val main = Paths.get("src/main")
    val users = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => pat.findFirstIn(Files.readString(p)).isDefined)
      .map(p => main.relativize(p).toString).toSet
    val allowed = Set("scala/graft/io/IndexIO.scala", "scala/graft/io/JsonSidecar.scala")
    assert(users.subsetOf(allowed), s"outside the registry: ${users -- allowed}")
  }
}
