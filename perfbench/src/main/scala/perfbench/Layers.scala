package perfbench

/** The per-layer metrics of a traced run: per-call means of what the
  * tracer attributes to each engine entry point, the derived counts
  * and ratios, and the printed per-layer table. Every workload reports
  * every name; a layer a workload does not call reads 0. */
object Layers {

  /** Timed engine calls, named <layer>.<op> after the repo's modules. */
  val Ops = Seq("cluster.fit", "index.ivf_add", "index.ivfpq_build", "io.save",
    "io.load", "index.ivf_join", "index.ivfpq_join", "knn.exact_join",
    "index.ivf_search", "index.ivfpq_search", "llm.near_dup_pairs",
    "llm.drop_losers", "llm.lsh_candidates")

  /** Per-call quantities exported as metrics (tasks and spill_mb are
    * printed in the table only, to stay within the metric budget). */
  private val Exported: Seq[(String, String, Layer => Double)] = Seq(
    ("wall_s", "s", _.wallS),
    ("self_s", "s", _.selfS),
    ("jobs", "count", _.jobs.toDouble),
    ("task_cpu_s", "s", _.taskCpuS),
    ("plan_ms", "ms", _.planMs),
    ("shuffle_mb", "MB", _.shuffleMb),
    ("gc_s", "s", _.gcS),
    ("task_skew", "ratio", _.taskSkew))

  /** Figures reported with the layers: counts and ratios derived per
    * layer, and the workload-specific figures that the shared
    * end-to-end metrics summarise. */
  val Derived: Seq[(String, String)] = Seq(
    "cluster.fit.imbalance" -> "ratio", "io.save.mb" -> "MB",
    "index.ivf_join.codes_scanned" -> "count", "index.ivfpq_join.codes_scanned" -> "count",
    "knn.exact_join.distances_per_cpu_s" -> "1/s", "llm.candidate_yield" -> "ratio",
    "build_vectors_per_s" -> "1/s", "join_queries_per_s" -> "1/s",
    "exact_queries_per_s" -> "1/s",
    "index_bytes_per_vector.ivf" -> "B", "index_bytes_per_vector.ivfpq" -> "B",
    "ivf_recall_at_10" -> "ratio", "ivfpq_recall_at_10" -> "ratio",
    "search_call_p50_ms" -> "ms", "search_call_p90_ms" -> "ms",
    "search_queries_per_s" -> "1/s",
    "dedup_docs_per_s" -> "1/s", "dedup_pair_recall" -> "ratio")

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-op means over traced calls; prints the full table. */
  def table(rec: Recorder, layers: Map[Int, Layer]): Seq[(String, Double, String)] = {
    val byOp = rec.calls.filter(c => layers.contains(c.id)).groupBy(_.op)
      .map { case (op, cs) => op -> cs.map(c => layers(c.id)).toSeq }
    System.out.println(f"${"op"}%-22s ${"calls"}%5s ${"wall_s"}%8s ${"self_s"}%8s ${"jobs"}%6s " +
      f"${"tasks"}%7s ${"cpu_s"}%8s ${"plan_ms"}%8s ${"shufMB"}%8s ${"spillMB"}%8s ${"gc_s"}%7s ${"skew"}%6s")
    Ops.filter(byOp.contains).foreach { op =>
      val ls = byOp(op)
      def m(f: Layer => Double) = mean(ls.map(f))
      System.out.println(f"$op%-22s ${ls.size}%5d ${m(_.wallS)}%8.3f ${m(_.selfS)}%8.3f " +
        f"${m(_.jobs)}%6.1f ${m(_.tasks)}%7.1f ${m(_.taskCpuS)}%8.3f ${m(_.planMs)}%8.1f " +
        f"${m(_.shuffleMb)}%8.2f ${m(_.spillMb)}%8.2f ${m(_.gcS)}%7.3f ${m(_.taskSkew)}%6.2f")
    }
    for (op <- Ops; (q, unit, f) <- Exported)
      yield (s"$op.$q", byOp.get(op).map(ls => mean(ls.map(f))).getOrElse(0.0), unit)
  }

  /** Tracing overhead: median wall of the traced overhead rounds over that
    * of the untraced ones (rounds -> traced), minus one, in %. */
  def overheadPct(rec: Recorder, rounds: Map[Int, Boolean]): Double = {
    val walls = rec.calls.filter(c => rounds.contains(c.round)).groupBy(_.round)
      .map { case (r, cs) => (rounds(r), cs.map(_.wallMs).sum) }.toSeq
    def med(v: Seq[Double]) = if (v.isEmpty) Double.NaN else v.sorted.apply(v.size / 2)
    val t = med(walls.filter(_._1).map(_._2))
    val u = med(walls.filterNot(_._1).map(_._2))
    if (t.isNaN || u.isNaN) 0.0 else (t / u - 1.0) * 100.0
  }
}
