package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.cluster.KMeans
import graft.index.{IvfIndex, IvfPqIndex}
import graft.io.IndexIO
import graft.knn.Knn
import graft.llm.Dedup

/** The engine benchmark. One process, one closed-loop client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Runs the workload's set-up several times, then rounds of engine
  * calls until `seconds` have passed, checks every output against
  * plain-JVM reference answers, prints a per-layer table (traced runs)
  * and, as the last line, one JSON result object. */
object Main {

  /** Input sizes. Chosen so that one run of any workload, set-up
    * included, ends well inside a minute on 4 task slots. */
  object Sizes {
    val D = 128
    val Clusters = 64
    val Nlist = 32
    val BuildN = 20000L
    val JoinQueries = 2000        // 10% of the corpus
    val ExactQueries = 100
    val JoinNprobe = 4
    val PqM = 16
    val PqKsub = 16
    val SearchN = 20000L
    val SearchWarmupRounds = 3
    val KmeansIters = 5
    val PqIters = 4
    val Docs = 20000L
    val PlantedPairs = 1000
    val Threshold = 0.8
    val SetupRepeats = 3
  }
  import Sizes._

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
  }

  val Workloads = Seq("ann_build_join", "ann_search_small", "text_neardup")

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since the JVM's main started. */
  def log(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%.1f s $what")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = Session.create(slots, args.work)
    log("session up")
    try {
      val run = new Run(spark, args, slots)
      val result = run.execute()
      System.out.println(result)
    } finally {
      spark.stop()
      log("session stopped")
    }
  }
}

object Session {
  /** Every conf the benchmark sets. The engine-tuning confs are the ones
    * the engine's catalog bench (graft.Bench) sets; the rest keep all
    * of Spark's files inside the benchmark's work directory. */
  def confs(slots: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$slots]",
    "spark.sql.shuffle.partitions" -> slots.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.cleaner.referenceTracking.blocking" -> "false",
    "spark.cleaner.referenceTracking.blocking.shuffle" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def create(slots: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(slots, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Run(spark: SparkSession, args: Main.Args, slots: Int) {
  import Main.Sizes._
  import spark.implicits._

  private val seed = args.seed
  private val rec = new Recorder(spark,
    s"${args.workload}-seed$seed-${ProcessHandle.current().pid()}")
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val jit0 = jit.getTotalCompilationTime
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val compiles0 = codegenCompiles

  // filled in by the workload; timings come from measured rounds only
  private val setupS = ArrayBuffer[Double]()
  private var itemsPerS = 0.0
  private val latencyMs = ArrayBuffer[Double]()
  private var recall = 0.0
  private val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val measured = scala.collection.mutable.Set[Int]()
  private val overheadRounds = scala.collection.mutable.Map[Int, Boolean]()

  /** `warmup` untimed rounds (checked like any other, so that JIT and
    * codegen caches are warm), then measured rounds until `seconds` have
    * passed, at least one. A traced run traces its measured rounds, then
    * runs `overheadPairs` pairs of one untraced and one traced round to
    * measure the tracing overhead. `body(timed)` runs one round. */
  private def rounds(warmup: Int, overheadPairs: Int)(body: Boolean => Unit): Unit = {
    Main.log("set-up done")
    (0 until warmup).foreach { _ => rec.startRound(on = false); body(false) }
    val end = System.nanoTime() + args.seconds * 1000000000L
    var m = 0
    while (m == 0 || System.nanoTime() < end) {
      measured += rec.startRound(on = args.trace)
      body(true)
      m += 1
    }
    Main.log(s"$m measured rounds done")
    // pairs alternate their order (UT, TU, ...) so that a process still
    // warming up does not favour either side
    if (args.trace) for (i <- 0 until overheadPairs; j <- 0 until 2) {
      val on = (i + j) % 2 == 1
      overheadRounds(rec.startRound(on)) = on
      body(false)
    }
    rec.startRound(on = false)
  }

  /** One timed set-up; in a traced run every second set-up is traced. */
  private def timeSetup(repeat: Int)(body: => Unit): Unit = {
    rec.startRound(on = args.trace && repeat % 2 == 1)
    val s = System.nanoTime()
    body
    setupS += (System.nanoTime() - s) / 1e9
    rec.startRound(on = false)
  }

  private def dir(name: String): java.nio.file.Path = args.work.resolve(name)

  def execute(): String = {
    args.workload match {
      case "ann_build_join" => buildJoin()
      case "ann_search_small" => searchSmall()
      case "text_neardup" => nearDup()
    }
    report()
  }

  // ---- shared vector steps ------------------------------------------

  private final case class Built(centroids: Array[Array[Float]], ivf: Option[IvfIndex],
      pq: Option[IvfPqIndex], saved: Boolean)

  /** Trains the coarse quantizer with KMeans.fit (or takes `given`
    * centroids), builds both indexes on it and saves them under `name`.
    * The IVF-Flat lists are materialized here; IvfPqIndex.build
    * materializes its codes itself. */
  private def buildAndSave(base: DataFrame, name: String,
      given: Option[Array[Array[Float]]] = None): Option[Built] = {
    val cents = given.orElse(rec.op("cluster.fit")(KMeans.fit(base, "vec",
      KMeans.Params(k = Nlist, niter = KmeansIters, seed = seed))).map { case (_, m) =>
      extra("cluster.fit.imbalance") = m.imbalanceFactor
      m.centroids
    })
    cents.map { c =>
      val ivf = rec.op("index.ivf_add") {
        val idx = IvfIndex.build(base, "id", "vec", Nlist, centroids0 = c)
        idx.invlists.cache().count()
        idx
      }.map(_._2)
      val pq = rec.op("index.ivfpq_build")(IvfPqIndex.build(base, "id", "vec",
        Nlist, m = PqM, ksub = PqKsub, niterPq = PqIters, seed = seed, centroids0 = c))
        .map(_._2)
      val saved = (for (i <- ivf; p <- pq) yield rec.op("io.save") {
        IvfIndex.save(i, dir(s"$name/ivf").toString)
        IndexIO.saveIvfPq(p, dir(s"$name/ivfpq").toString)
      }).flatten.isDefined
      Built(c, ivf, pq, saved)
    }
  }

  private def load(name: String): Option[(IvfIndex, IvfPqIndex)] =
    rec.op("io.load")((IvfIndex.load(spark, dir(s"$name/ivf").toString),
      IndexIO.loadIvfPq(spark, dir(s"$name/ivfpq").toString))).map(_._2)

  private def release(b: Built): Unit = {
    b.ivf.foreach(_.invlists.unpersist(true))
    b.pq.foreach(_.codes.unpersist(true))
  }

  private def listSizes(lists: DataFrame): Map[Int, Long] =
    lists.groupBy("list_no").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def dist(r: Row): Double = r.getAs[Number](3).doubleValue

  /** Codes an IVF scan visits for one query: the summed sizes of its
    * probed lists, from the public centroids and list sizes. */
  private def candidates(q: Array[Float], cents: Array[Array[Float]],
      sizes: Map[Int, Long], nprobe: Int): Long =
    Truth.probes(q, cents, nprobe).map(sizes.getOrElse(_, 0L)).sum

  /** Shape check for one search result (qid, rank, id, dist): each
    * query has min(k, candidates) rows ranked 1..n, with distinct known
    * ids and non-decreasing distances, and no unknown query appears. */
  private def checkSearch(rows: Array[Row], qids: Seq[Long], qvec: Seq[Array[Float]],
      cents: Array[Array[Float]], sizes: Map[Int, Long], k: Int, nprobe: Int,
      n: Long): Option[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    val bad = qids.indices.find { qi =>
      val got = byQ.getOrElse(qids(qi), Array.empty[Row]).sortBy(_.getLong(1))
      val want = math.min(k.toLong, candidates(qvec(qi), cents, sizes, nprobe))
      val ids = got.map(_.getLong(2))
      val dists = got.map(dist)
      !(got.length == want && got.map(_.getLong(1)).toSeq == (1L to want) &&
        ids.forall(i => i >= 0 && i < n) && ids.distinct.length == ids.length &&
        dists.indices.drop(1).forall(i => dists(i - 1) <= dists(i)))
    }
    bad.map(qi => s"query ${qids(qi)}: wrong row count, ranks, ids or order")
      .orElse(if (byQ.keySet.subsetOf(qids.toSet)) None else Some("unknown query in result"))
  }

  private def vectorsOf(df: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val rows = df.collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  // ---- ann_build_join -----------------------------------------------

  private def buildJoin(): Unit = {
    val model = new Gen.VectorModel(D, Clusters, seed)
    var base: DataFrame = null
    var queries: DataFrame = null
    (0 until SetupRepeats).foreach { s =>
      if (base != null) { base.unpersist(true); queries.unpersist(true) }
      timeSetup(s) {
        base = Gen.vectors(spark, model, Gen.Base, BuildN, slots).cache()
        queries = Gen.vectors(spark, model, Gen.Query, JoinQueries, slots, "qid", "qvec").cache()
        base.count(); queries.count()
      }
    }
    val exactQ = queries.filter(col("qid") < ExactQueries)
    val buildS, joinS, exactS = ArrayBuffer[Double]()
    val bytes = ArrayBuffer[(Long, Long)]()
    // outputs are checked after the window closes
    val outs = ArrayBuffer[(Built, Map[Int, Long], Seq[(Int, Array[Row])])]()
    rounds(warmup = 0, overheadPairs = 2) { timed =>
      val name = s"r${rec.currentRound}"
      val t0 = rec.nowMs
      val built = buildAndSave(base, name)
      val t1 = rec.nowMs
      built.foreach(release)
      val loaded = built.filter(_.saved).flatMap(_ => load(name))
      val tj = rec.nowMs
      val ivfRes = loaded.flatMap(l => rec.op("index.ivf_join")(
        l._1.search(queries, 10, JoinNprobe, broadcastQueries = false).collect()))
      val pqRes = loaded.flatMap(l => rec.op("index.ivfpq_join")(
        l._2.search(queries, 10, JoinNprobe).collect()))
      val t2 = rec.nowMs
      val exact = rec.op("knn.exact_join")(Knn.knnJoin(exactQ, base, 10).collect())
      val t3 = rec.nowMs
      if (timed) {
        buildS += (t1 - t0) / 1e3
        joinS += (t2 - tj) / 1e3
        exactS += (t3 - t2) / 1e3
        latencyMs += t3 - t0
      }
      built.foreach { b =>
        if (b.saved) bytes += ((Files.bytesUnder(dir(s"$name/ivf")),
          Files.bytesUnder(dir(s"$name/ivfpq"))))
        outs += ((b, loaded.map(l => listSizes(l._1.invlists)).getOrElse(Map.empty),
          Seq(ivfRes, pqRes, exact).flatten))
      }
    }
    itemsPerS = BuildN / median(buildS)
    extra("build_vectors_per_s") = itemsPerS
    extra("join_queries_per_s") = 2.0 * JoinQueries / median(joinS)
    extra("exact_queries_per_s") = ExactQueries / median(exactS)
    if (bytes.nonEmpty) {
      extra("index_bytes_per_vector.ivf") = median(bytes.map(_._1.toDouble)) / BuildN
      extra("index_bytes_per_vector.ivfpq") = median(bytes.map(_._2.toDouble)) / BuildN
      extra("io.save.mb") = median(bytes.map(b => (b._1 + b._2).toDouble)) / 1e6
    }

    // ---- checks against plain-JVM brute force on the exact-join sample ----
    val (ids, vecs) = vectorsOf(base.select("id", "vec"))
    val (qids, qvec) = vectorsOf(queries.orderBy("qid"))
    val truth = Parallel.map(0 until ExactQueries)(q => Truth.topK(qvec(q), ids, vecs, 10))
    val recalls = ArrayBuffer[(String, Double)]()
    for ((b, sizes, results) <- outs; (id, rows) <- results) {
      val byQ = rows.groupBy(_.getLong(0))
      def topOf(q: Int) = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getLong(1))
      rec.calls(id).op match {
        case "knn.exact_join" =>
          val ok = (0 until ExactQueries).forall { q =>
            Truth.sameTopK(topOf(q).map(r => (r.getLong(2), dist(r))).toSeq, truth(q).toSeq)
          }
          rec.check(id, ok, "exact join differs from the brute-force top-10")
        case op =>
          checkSearch(rows, qids.toSeq, qvec.toSeq, b.centroids, sizes, 10, JoinNprobe,
            BuildN).foreach(msg => rec.check(id, ok = false, msg))
          val rc = (0 until ExactQueries).map(q =>
            Truth.recall(topOf(q).map(_.getLong(2)).toSeq, truth(q).map(_._1).toSeq))
          recalls += ((op, rc.sum / rc.size))
          extra(s"$op.codes_scanned") =
            qvec.map(candidates(_, b.centroids, sizes, JoinNprobe)).sum.toDouble
      }
    }
    def meanRecall(op: String) = Layers.mean(recalls.filter(_._1 == op).map(_._2).toSeq)
    recall = meanRecall("index.ivf_join")
    extra("ivf_recall_at_10") = recall
    extra("ivfpq_recall_at_10") = meanRecall("index.ivfpq_join")
  }

  // ---- ann_search_small -------------------------------------------

  private def searchSmall(): Unit = {
    val model = new Gen.VectorModel(D, Clusters, seed)
    // Preparation, outside set-up: the indexes are built once on
    // centroids trained here in plain code, then saved. Training, adding
    // and saving are what ann_build_join measures.
    val base = Gen.vectors(spark, model, Gen.Base, SearchN, slots).cache()
    val (ids, vecs) = vectorsOf(base.select("id", "vec"))
    val cents = Truth.kmeans(vecs.take(Nlist * 64), Nlist, KmeansIters, seed)
    val built = buildAndSave(base, "prep", Some(cents))
    built.foreach(release)
    if (!built.exists(_.saved)) throw new IllegalStateException("preparation failed: build and save")
    // Set-up: load both indexes from disk.
    var ivf: IvfIndex = null
    var pq: IvfPqIndex = null
    (0 until SetupRepeats).foreach { s =>
      timeSetup(s) {
        val l = load("prep").getOrElse(throw new IllegalStateException("set-up failed: io.load"))
        ivf = l._1
        pq = l._2
      }
    }
    val sizesIvf = listSizes(ivf.invlists)
    val sizesPq = listSizes(pq.codes)
    // Call shapes (k, nprobe, batch size) are fixed, so every seed sends
    // the same calls; the queries themselves are seeded. The first
    // warm-up rounds cover k in {1, 10, 100} and nprobe in {1, 8, 32}
    // (nprobe is compiled into the search plan) and are the calls recall
    // is taken on; every later round repeats one shape, so the latency
    // median does not depend on how many calls fit in the window.
    val warmShapes = Seq((1, 1, 128), (10, 8, 96), (100, 32, 64))
    val measuredShape = (10, 8, 32)
    final case class Sent(id: Int, flat: Boolean, k: Int, nprobe: Int, qids: Array[Long],
        qvec: Array[Array[Float]], rows: Array[Row])
    val sent = ArrayBuffer[Sent]()
    var answered = 0L
    var busyMs = 0.0
    var c = 0
    rounds(warmup = SearchWarmupRounds, overheadPairs = 2) { timed =>
      // one round = one IVF-Flat call and one IVF-PQ call; its latency
      // sample is the mean of the two, as the kinds differ by ~25%
      var roundMs = 0.0
      for (flat <- Seq(true, false)) {
        val (k, nprobe, b) = if (c / 2 < warmShapes.size) warmShapes(c / 2) else measuredShape
        val qids = Array.tabulate(b)(j => c * 128L + j)
        val qv = qids.map(model.vector(Gen.Query, _))
        val df = qids.zip(qv).toSeq.toDF("qid", "qvec")
        val out =
          if (flat) rec.op("index.ivf_search")(ivf.search(df, k, nprobe).collect())
          else rec.op("index.ivfpq_search")(pq.search(df, k, nprobe).collect())
        out.foreach { case (id, rows) =>
          roundMs += rec.calls(id).wallMs
          if (timed) answered += b
          sent += Sent(id, flat, k, nprobe, qids, qv, rows)
        }
        c += 1
      }
      if (timed) {
        latencyMs += roundMs / 2
        busyMs += roundMs
      }
    }
    itemsPerS = answered / (busyMs / 1e3)
    extra("search_queries_per_s") = itemsPerS
    val callMs = rec.calls.filter(c => c.op.endsWith("_search") && measured.contains(c.round)).map(_.wallMs).toSeq
    extra("search_call_p50_ms") = pct(callMs, 0.5)
    extra("search_call_p90_ms") = pct(callMs, 0.9)

    // ---- checks: every call's shape; recall on the warm-up calls, which
    // are the same calls for a given seed however fast the engine runs ----
    val checked = sent.take(2 * warmShapes.size)
    val truth = Parallel.map(checked.flatMap(s => s.qvec.map((_, s.k))).toSeq) {
      case (q, k) => Truth.topK(q, ids, vecs, k).map(_._1).toSeq
    }.iterator
    sent.foreach { s =>
      val (cents, sizes) = if (s.flat) (ivf.centroids, sizesIvf) else (pq.centroids, sizesPq)
      checkSearch(s.rows, s.qids.toSeq, s.qvec.toSeq, cents, sizes, s.k, s.nprobe, SearchN)
        .foreach(msg => rec.check(s.id, ok = false, msg))
    }
    val rcs = checked.flatMap { s =>
      val byQ = s.rows.groupBy(_.getLong(0))
      s.qids.map(q => Truth.recall(byQ.getOrElse(q, Array.empty[Row]).map(_.getLong(2)).toSeq,
        truth.next()))
    }
    recall = Layers.mean(rcs.toSeq)
    base.unpersist(true)
  }

  // ---- text_neardup --------------------------------------------------

  private def nearDup(): Unit = {
    val model = new Gen.TextModel(seed, PlantedPairs, Threshold)
    var docs: DataFrame = null
    (0 until SetupRepeats).foreach { s =>
      if (docs != null) docs.unpersist(true)
      timeSetup(s) {
        docs = Gen.documents(spark, model, Docs, slots).cache()
        docs.count()
      }
    }
    val roundS = ArrayBuffer[Double]()
    val found = ArrayBuffer[(Int, Array[(Long, Long)])]()
    val candidates = ArrayBuffer[Double]()
    rounds(warmup = 2, overheadPairs = 2) { timed =>
      val t0 = rec.nowMs
      val pairs = rec.op("llm.near_dup_pairs")(
        Dedup.nearDupPairs(docs, "doc_id", "text", Threshold))
      val kept = pairs.flatMap { case (_, p) =>
        rec.op("llm.drop_losers")(Dedup.dropPairsLosers(docs, "doc_id", p).count())
      }
      val t1 = rec.nowMs
      if (timed) {
        latencyMs += t1 - t0
        roundS += (t1 - t0) / 1e3
      }
      pairs.foreach { case (id, p) =>
        val rows = p.select(col("i").cast("long"), col("j").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        found += ((id, rows))
        kept.foreach { case (kid, n) =>
          val want = Docs - rows.map(_._2).distinct.length
          rec.check(kid, n == want, s"dropPairsLosers kept $n documents, expected $want")
        }
        Dedup.release(p)
      }
    }
    // a traced run also times candidate generation alone, for the
    // verified / candidate yield
    if (args.trace) {
      rec.startRound(on = true)
      rec.op("llm.lsh_candidates") {
        val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
        val n = cand.count()
        Dedup.release(cand)
        n
      }.foreach { case (_, n) => candidates += n.toDouble }
      rec.startRound(on = false)
    }
    itemsPerS = Docs / median(roundS)
    extra("dedup_docs_per_s") = itemsPerS

    // ---- checks: every reported pair's Jaccard, recomputed here ----
    val planted = Parallel.map(0 until PlantedPairs)(i => (i, model.plantedJaccard(i)))
    val above = planted.filter(_._2 >= Threshold).map(p => (2L * p._1, 2L * p._1 + 1)).toSet
    def shingles(id: Long) = Shingles.of(model.words(id), model.Ngram)
    val recalls = found.map { case (id, rows) =>
      val bad = rows.find { case (i, j) =>
        !(i < j && j < Docs && Shingles.jaccard(shingles(i), shingles(j)) >= Threshold - 1e-9)
      }
      bad.foreach(b => rec.check(id, ok = false, s"pair $b is below the threshold"))
      val got = rows.toSet
      above.count(got.contains).toDouble / math.max(1, above.size)
    }
    recall = Layers.mean(recalls.toSeq)
    extra("dedup_pair_recall") = recall
    if (candidates.nonEmpty && found.nonEmpty)
      extra("llm.candidate_yield") = found.head._2.length / median(candidates)
  }

  // ---- report --------------------------------------------------------

  private def median(v: Iterable[Double]): Double = pct(v.toSeq, 0.5)

  /** Linear-interpolated percentile. */
  private def pct(v: Seq[Double], p: Double): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else {
      val x = p * (s.size - 1)
      val i = x.toInt
      if (i + 1 >= s.size) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
    }
  }

  private def report(): String = {
    Main.log("checks done")
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val compiles = (codegenCompiles - compiles0).toDouble
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val errorRate = rec.failed.toDouble / math.max(1, rec.attempted)
    val e2e = Seq(
      ("setup_s", median(setupS), "s"),
      ("items_per_s", itemsPerS, "1/s"),
      ("latency_p50_ms", pct(latencyMs.toSeq, 0.5), "ms"),
      ("recall", recall, "ratio"))
    System.out.println(f"workload ${args.workload} seed $seed: ${rec.attempted} calls, " +
      f"${rec.failed} failed; ${setupS.size} set-ups, ${latencyMs.size} latency samples")
    System.out.println("  set-up s: " + setupS.map(v => f"$v%.3f").mkString(" ") +
      "; latency ms: " + latencyMs.map(v => f"$v%.0f").mkString(" "))
    rec.calls.groupBy(_.op).toSeq.sortBy(_._2.head.id).foreach { case (op, cs) =>
      System.out.println(f"  call $op%-30s ${cs.size}%4d x, median ${median(cs.map(_.wallMs))}%9.1f ms")
    }
    e2e.foreach { case (n, v, u) => System.out.println(f"  $n%-36s $v%14.4f $u") }
    extra.foreach { case (n, v) => System.out.println(f"  $n%-36s $v%14.4f") }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e
      else {
        val layers = rec.finish(args.work.resolve("spans.jsonl"))
        val exactCpu = Layers.mean(rec.calls.toSeq
          .filter(c => c.op == "knn.exact_join" && layers.contains(c.id))
          .map(c => layers(c.id).taskCpuS))
        if (exactCpu > 0)
          extra("knn.exact_join.distances_per_cpu_s") = ExactQueries.toDouble * BuildN / exactCpu
        val overhead = Layers.overheadPct(rec, overheadRounds.toMap)
        System.out.println(f"  tracing overhead: $overhead%.1f%% (traced vs untraced warm rounds)")
        Layers.table(rec, layers.filter { case (id, _) =>
          !overheadRounds.contains(rec.calls(id).round) }) ++ Seq(
          ("spark.jit_s", jitS, "s"),
          ("spark.codegen_compiles", compiles, "count"),
          ("trace.overhead_pct", overhead, "%"),
          ("op_error_rate", errorRate, "ratio"),
          ("cached_mb", cachedMb, "MB")) ++
          Layers.Derived.map { case (n, u) => (n, extra.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {$body}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Parallel {
  /** Maps on a small fixed pool: reference answers are pure CPU work. */
  def map[A, B](xs: Seq[A])(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors))
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      fs.map(_.get()).toIndexedSeq
    } finally pool.shutdown()
  }
}
