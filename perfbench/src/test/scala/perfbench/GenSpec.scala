package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]").appName("GenSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def vecRows(seed: Long, parts: Int): Seq[(Long, Seq[Float])] =
    Gen.vectors(spark, new Gen.VectorModel(16, 8, seed), Gen.Base, 500, parts)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq

  private def docRows(seed: Long, parts: Int): Seq[Row] =
    Gen.documents(spark, new Gen.TextModel(seed, 20, 0.8), 300, parts)
      .collect().sortBy(_.getLong(0)).toSeq

  test("same seed gives identical vectors at any partition count") {
    val a = vecRows(7, 1)
    assert(a.size == 500)
    assert(a == vecRows(7, 3))
    assert(a == vecRows(7, 8))
  }

  test("a different seed gives different vectors") {
    assert(vecRows(7, 2).map(_._2) != vecRows(8, 2).map(_._2))
  }

  test("vectors have dimension d, finite values, uneven cluster weights") {
    val m = new Gen.VectorModel(128, 64, 3)
    val v = m.vector(Gen.Base, 42)
    assert(v.length == 128 && v.forall(x => x >= -1f && x <= 1f))
    val r = Gen.rng(3, Gen.Base, 0)
    val counts = Array.fill(20000)(m.cluster(r.nextDouble())).groupBy(identity)
      .map(_._2.length).toSeq.sorted
    // weights fall as 1/(c+1): the largest cluster holds ~21% of points
    assert(counts.last > 20000 * 0.15 && counts.head < 20000 / 64)
  }

  test("same seed gives identical documents at any partition count") {
    val a = docRows(5, 1)
    assert(a.size == 300)
    assert(a == docRows(5, 4))
    assert(a != docRows(6, 4))
  }

  test("planted pairs sit at known Jaccard around the threshold") {
    val m = new Gen.TextModel(11, 40, 0.8)
    (0 until 40).foreach { i =>
      val j = m.plantedJaccard(i)
      if (i % 2 == 0) assert(j >= 0.8 && j <= 1.0, s"pair $i: $j")
      else assert(j < 0.8 && j >= 0.6, s"pair $i: $j")
    }
    // documents outside the planted pairs share (almost) no shingles
    val a = Shingles.of(m.words(100), 3)
    val b = Shingles.of(m.words(101), 3)
    assert(Shingles.jaccard(a, b) < 0.05)
  }

  test("shingles are word 3-grams; short documents have none") {
    assert(Shingles.of(Array("a", "b"), 3).isEmpty)
    assert(Shingles.of(Array("a", "b", "c", "d"), 3) == Set("a b c", "b c d"))
    assert(Shingles.jaccard(Set("x", "y"), Set("y", "z")) == 1.0 / 3)
  }

  test("reference top-k breaks ties on id and tie-aware comparison accepts draws") {
    val base = Array(Array(1f, 0f), Array(0f, 1f), Array(2f, 0f), Array(-1f, 0f))
    val ids = Array(10L, 11L, 12L, 13L)
    val top = Truth.topK(Array(0f, 0f), ids, base, 3)
    assert(top.map(_._1).toSeq == Seq(10L, 11L, 13L))
    assert(Truth.sameTopK(Seq((11L, 1.0), (10L, 1.0), (13L, 1.0)), top.toSeq))
    assert(!Truth.sameTopK(Seq((10L, 1.0), (11L, 1.0), (12L, 4.0)), top.toSeq))
  }
}
