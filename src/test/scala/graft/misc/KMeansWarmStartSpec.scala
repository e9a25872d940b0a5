package graft.misc

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.cluster.KMeans

/** Pins the warm-start k-deficiency fallback (VERDICT r19 #5): the
  * r19 pass-fusion folded the degenerate-subsample check into the
  * init collect, which a warm-started fit (ProgressiveDimKMeans)
  * skips — duplicate-heavy data whose hash subsample comes out empty
  * would then train on an EMPTY set. r20 restores the guard on the
  * warm-start path: the training set swaps to the unsampled prefix
  * exactly as the cold path does. */
class KMeansWarmStartSpec extends SparkTestBase {

  /** Warm-started fit of `k` centroids over 300 identical rows whose
    * value-keyed hash subsample is empty; returns the summed cluster
    * sizes and the fallback prefix length they must equal. */
  private def degenerateWarmFit(nredo: Int): (Long, Int) = {
    import spark.implicits._
    val k = 4
    val p = KMeans.Params(k = k, niter = 2, maxPointsPerCentroid = 2,
      nredo = nredo)
    val maxTrain = k * p.maxPointsPerCentroid // = 8
    // all rows IDENTICAL: the value-keyed hash subsample keeps either
    // every row or none. Scan deterministic seeds for a vector whose
    // hash lands OUTSIDE the keep range (none kept -> empty subsample).
    val total = 300L
    val buckets = 1L << 30
    val keep = (maxTrain.toDouble / total * buckets).toLong + 1
    val v = (0 until 64).map { salt =>
      Array.fill(4)(1.0f + salt * 0.25f)
    }.find { cand =>
      val h = Seq(Tuple1(cand.toSeq)).toDF("vec")
        .select(pmod(xxhash64(col("vec"), lit(p.seed)), lit(buckets)))
        .first().getLong(0)
      h >= keep
    }.getOrElse(fail("no candidate vector hashed outside the keep range"))
    val df = spark.range(total).select(
      typedLit(v.toSeq).cast("array<float>").as("vec"))
    // sanity: the subsample really is empty for this vector
    val sampled = df.filter(
      pmod(xxhash64(col("vec"), lit(p.seed)), lit(buckets)) < keep).count()
    assert(sampled == 0L, "test setup: subsample must be empty")
    val warm = Array.tabulate(k)(j => v.map(_ + j * 0.5f))
    val m = KMeans.fit(df, "vec", p, init = Some(warm))
    (m.sizes.sum, maxTrain)
  }

  test("warm-started fit over duplicate-heavy degenerate data swaps to " +
      "the unsampled prefix (training-set sizes prove it)") {
    val (trained, maxTrain) = degenerateWarmFit(nredo = 1)
    // the fallback prefix has maxTrain rows; an empty training set
    // would have crashed (or reported 0 assigned rows)
    assert(trained == maxTrain)
  }

  test("warm-started fit with nredo = 3 trains every redo on the " +
      "fallback prefix") {
    val (trained, maxTrain) = degenerateWarmFit(nredo = 3)
    assert(trained == maxTrain)
  }

  test("warm-started fitEncoded over the same degenerate shape trains on " +
      "the fallback prefix") {
    import spark.implicits._
    val k = 4
    val p = KMeans.Params(k = k, niter = 2, maxPointsPerCentroid = 2)
    val maxTrain = k * p.maxPointsPerCentroid
    val total = 300L
    val buckets = 1L << 30
    val keep = (maxTrain.toDouble / total * buckets).toLong + 1
    // int codes play the vec role: find a constant code hashing out of range
    val code = (0 until 64).map { salt =>
      Seq.tabulate(4)(i => i + salt)
    }.find { cand =>
      val h = Seq(Tuple1(cand)).toDF("c")
        .select(pmod(xxhash64(col("c"), lit(p.seed)), lit(buckets)))
        .first().getLong(0)
      h >= keep
    }.getOrElse(fail("no candidate code hashed outside the keep range"))
    val df = spark.range(total).select(typedLit(code).as("code"))
    val decode = (c: org.apache.spark.sql.Column) =>
      transform(c, x => x.cast("float"))
    val warm = Array.tabulate(k)(j => code.toArray.map(b => b.toFloat + j * 0.5f))
    val m = KMeans.fitEncoded(df, "code", decode, p, init = Some(warm))
    assert(m.sizes.sum == maxTrain)
  }
}
