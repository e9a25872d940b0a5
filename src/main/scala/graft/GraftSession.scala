package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one way to build a graft session (the session analogue of
  * FAISS's `index_factory`). Every main and the test base call it with
  * only their width, so the bench, the oracle dump, the profilers and
  * the tests all run the same conf list. Extra confs for A/B
  * experiments come from `SPARK_GRAFT_CONF="k=v,k=v"` and apply last.
  * Profiled stages therefore always run under the bench cells' session
  * posture: the r18 minhash investigation found a profiler with its own
  * hand-copied builder silently running 32-way while the scaling tier
  * ran 320-way.
  */
object GraftSession {

  /** Width of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // The catalog generates >100 distinct codegen stages; the default
      // 100-entry codegen cache then evicts+recompiles nondeterministically
      // (janino compiles of the big minhash/codec classes run seconds
      // each — the source of the r02/r03 wandering per-query stalls).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // high-cardinality collect_list aggregates (the LSH band-bucket
      // grouping: ~1 band hash per input row) otherwise hit
      // ObjectHashAggregate's 128-entry sort-based fallback and SORT
      // the whole band table per task; entries are (long key, tiny id
      // list), so a few million hashed entries per task is cheap
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.maxPlanStringLength", "8192")
      // async block/shuffle cleanup: the blocking cleaner serializes
      // against job submission through the dispatcher and produced
      // multi-second wandering stalls across a ~90-query session
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Uncounted warm-up shared by Bench and ProfileOne: pays one-time
    * session/scheduler/codegen startup so per-query timings measure the
    * queries, not JVM init. A failing step is reported on stderr with
    * its exception and the remaining steps still run. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    def step(name: String)(f: => Unit): Unit =
      try f catch { case NonFatal(e) =>
        System.err.println(s"[warm] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    // KernelWarmup first: spin every hot static kernel past the C2
    // compile threshold so the first query to consume one at scale
    // doesn't run it interpreted while the compiler queue drains (the
    // r06/r07 wandering 2-30x first-touch stalls).
    step("kernel warmup")(core.KernelWarmup.run())
    step("first catalog query")(SparkEntry.queries.headOption.foreach {
      case (_, fn) => fn(spark, sfDir).count() })
    // Train the small session-memoized models up front. Keeps the 2x
    // gate apples-to-apples: the DuckDB oracles read PRE-TRAINED
    // sidecars, so a first-search timing that includes training would
    // compare train+search against search-only. The big models are NOT
    // warmed — the *_big entries time those builds explicitly.
    step("trained models")(Queries.warmTrainedModels(spark, sfDir))
  }
}
