package graft.io

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index._
import graft.transform._

/** read_index/write_index analogs for every persisted index family and
  * trained transforms (faiss/index_io.h:38-71,
  * faiss/impl/index_write.cpp / index_read.cpp): parquet for row data,
  * a small JSON sidecar ([[JsonSidecar]]) for trained parameters.
  *
  * One registry: each family is one entry — its `kind` tag (the fourcc
  * analog), its class, the [[IndexIO.Component]]s it is stored as (each
  * under `<path>/<name>`) and a constructor from them. [[IndexIO.save]]
  * writes the components and stamps `<path>/kind` LAST, so the tag is
  * the commit marker: a save that dies midway leaves no tag, and
  * [[IndexIO.load]] refuses the tree. `load` dispatches on the tag,
  * checks the family is the type asked for, then reads and validates
  * every component: a missing one, or a grid with a dropped row, fails
  * the load (not a later search) with an `IllegalArgumentException`
  * naming its path. Validation runs on the driver over what the reads
  * already resolved, so it adds no Spark job.
  *
  * Components: codes = parquet (`[col]` = partitioned by col);
  * centroids = `(list_no, centroid, nlist)` grid; PQ = `(m, j,
  * centroid, ksub, dsub)` grid; RQ = `(level, j, centroid, k)` grid;
  * norm = `(l, j, c)` grid; SQ range = `(dim, vmin, vdiff)`; transform
  * = a VectorTransform chain; {a, b} = the one-row meta record;
  * `?` = optional, needed only when the family's flags say so.
  *
  * | kind       | components |
  * |------------|------------|
  * | ivfflat    | invlists[list_no]; meta: centroids + d, metric |
  * | sq         | codes; meta: SQ range?; qtype: {qtype} |
  * | pq         | codes; meta: PQ |
  * | ivfpq      | codes[list_no]; centroids; codebooks: PQ |
  * | twolayer   | codes; centroids; codebooks: PQ |
  * | bivf       | invlists[list_no]; meta: centroid bits |
  * | imi        | invlists[cell]; meta: PQ |
  * | imipq      | codes[cell]; coarse: PQ; codebooks: PQ |
  * | miq2layer  | codes; coarse: PQ; codebooks: PQ |
  * | ivfsh      | codes[list_no]; centroids + nbit, period; thresholds; vt: transform |
  * | pq4fs      | codes; meta: PQ |
  * | ivfpq4fs   | codes[list_no]; centroids; codebooks: PQ |
  * | ivfpq4fsr  | codes[list_no]; centroids; codebooks: PQ |
  * | rq4fs      | codes; codebooks: RQ; normcb: norm; meta: {norm_scale} |
  * | ivfrq4fs   | codes[list_no]; centroids; codebooks: RQ; normcb: norm; meta: {by_residual} |
  * | ivfrq4fsr  | as ivfrq4fs |
  * | ivfsq      | codes[list_no]; centroids; range: SQ range?; meta: {qtype, by_residual} |
  * | ivfrq      | codes[list_no]; centroids; codebooks: RQ |
  * | ivfrqnorm  | codes[list_no] + nq?; centroids; codebooks: RQ; meta: {nonorm} |
  * | bflat      | codes; meta: {code_size} |
  * | bhash      | codes[bucket]; meta: {b} |
  * | bmultihash | codes; meta: {nhash, b} |
  * | lsh        | codes; rot: transform?; thresholds?; meta: {rotate_data, train_thresholds} |
  * | lattice    | codes; meta: lattice grid |
  * | minmax     | codes; meta: {inner, fp16_coeffs}; range: SQ range?; codebooks: PQ? |
  * | refineflat | inner: a saved sq index; base; meta: {k_factor, metric} |
  *
  * Not persisted, by design: the HNSW/NSG partition graphs (see
  * [[graft.knn.PartitionedHnsw]]) and Autotune OperatingPoints, in-memory
  * only exactly as in the reference (AutoTune.h keeps no serializer).
  */
object IndexIO {

  private def corrupt(dir: String, why: String) =
    new IllegalArgumentException(s"$dir: $why — truncated or corrupt index")

  private def check(ok: Boolean, dir: String, why: => String): Unit =
    if (!ok) throw corrupt(dir, why)

  /** One persisted piece of an index, stored at `<index path>/<name>`.
    * `optional`: may be absent; the family's own flags decide when it
    * is needed (fp16's range, LSH's rotation and thresholds). `grid`:
    * its rows tile a full grid, so one dropped row fails the load. */
  abstract class Component[T](val name: String, val optional: Boolean, val grid: Boolean) {
    def write(spark: SparkSession, v: T, dir: String): Unit
    /** Reads and validates `dir`; None when it does not exist. */
    def read(spark: SparkSession, dir: String): Option[T]
    /** This component of an `I`, read off by `get` (null = not stored). */
    def of[I](get: I => T): Part[I] = new Part(this, i => Option(get(i)))
  }

  /** Parquet row data, partitioned by `partitionBy` where search prunes
    * on it. `cols` is the typed column list `name[:type]`, cast on read;
    * a trailing `?` marks a column only some indexes carry. */
  final class Codes(name: String, partitionBy: Option[String], cols: String*)
      extends Component[DataFrame](name, false, false) {
    private val specs = cols.map { c =>
      val p = c.stripSuffix("?").split(":"); (p(0), p.lift(1), c.endsWith("?"))
    }
    private def present(df: DataFrame) =
      specs.filter { case (n, _, opt) => !opt || df.columns.contains(n) }
    def write(spark: SparkSession, df: DataFrame, dir: String): Unit = {
      val out = df.select(present(df).map(s => col(s._1)): _*)
      partitionBy.fold(out.write)(p => out.repartition(col(p)).write.partitionBy(p))
        .mode("overwrite").parquet(dir)
    }
    def read(spark: SparkSession, dir: String): Option[DataFrame] = {
      val df = try spark.read.parquet(dir) catch { case e: AnalysisException =>
        throw new IllegalArgumentException(s"$dir: unreadable codes: ${e.getMessage}", e)
      }
      val absent = specs.collect { case (n, _, false) if !df.columns.contains(n) => n }
      check(absent.isEmpty, dir, s"no column ${absent.mkString(", ")}")
      Some(df.select(present(df).map { case (n, t, _) => t.fold(col(n))(col(n).cast(_)) }: _*))
    }
  }

  /** A JSON sidecar. Its typed `cols` are the schema it is written and
    * read with; `rows` and `parse` convert the value, `parse` also
    * validating the rows' shape. An empty sidecar counts as missing
    * unless `emptyOk`. */
  final class Sidecar[T](name: String, cols: Seq[(String, DataType)], optional: Boolean = false,
      grid: Boolean = false, emptyOk: Boolean = false)(rows: T => Seq[Seq[Any]])(
      parse: (Array[Row], String) => T) extends Component[T](name, optional, grid) {
    private val schema = StructType(cols.map { case (n, t) => StructField(n, t) })
    def write(spark: SparkSession, v: T, dir: String): Unit =
      JsonSidecar.write(spark, schema, rows(v).map(Row.fromSeq), dir)
    def read(spark: SparkSession, dir: String): Option[T] = {
      val rs = try JsonSidecar.read(spark, dir, schema)
        catch { case _: java.io.FileNotFoundException => return None }
      check(rs.nonEmpty || emptyOk, dir, "empty sidecar")
      Some(parse(rs, dir))
    }
  }

  /** The grid check: the leading int key columns take every value below
    * their `extents` exactly once. */
  private def tiles(rs: Array[Row], dir: String, extents: Int*): Unit = {
    val keys = rs.map(r => extents.indices.map(r.getInt))
    check(rs.length == extents.product && keys.distinct.length == rs.length &&
      keys.forall(_.zip(extents).forall { case (k, e) => k >= 0 && k < e }),
      dir, s"${rs.length} rows do not tile a ${extents.mkString("x")} grid")
  }

  /** The vectors in column `i` all have the first row's length. */
  private def widths(rs: Array[Row], i: Int, dir: String): Unit =
    check(rs.forall(_.getSeq[Any](i).length == rs(0).getSeq[Any](i).length), dir,
      "vector lengths differ")

  private def ints(names: String*) = names.map(_ -> IntegerType)

  /** The one-row meta record. */
  private def record(name: String, cols: (String, DataType)*) =
    new Sidecar[Row](name, cols)(r => Seq(r.toSeq))({ (rs, dir) =>
      check(rs.length == 1, dir, s"${rs.length} meta rows, want 1"); rs(0)
    })

  /** Per-list vectors `(list_no, <vec>, head...)`: every list below the
    * `nlist` head column (else below the row count) once, one length.
    * The head values repeat on every row. */
  private def lists[E: ClassTag](name: String, vec: String, elem: DataType,
      head: (String, DataType)*) = new Sidecar[(Array[Array[E]], Row)](name,
      Seq("list_no" -> IntegerType, vec -> ArrayType(elem)) ++ head, grid = true)(
      v => v._1.indices.map(i => Seq[Any](i, v._1(i).toSeq) ++ v._2.toSeq))({ (rs, dir) =>
    val nlist = head.indexWhere(_._1 == "nlist")
    val out = new Array[Array[E]](if (nlist < 0) rs.length else rs(0).getInt(2 + nlist))
    tiles(rs, dir, out.length)
    widths(rs, 1, dir)
    rs.foreach(r => out(r.getInt(0)) = r.getSeq[E](1).toArray)
    (out, Row.fromSeq(rs(0).toSeq.drop(2)))
  })

  /** Codebooks `(<outer>, j, centroid, head...)`; the first head column
    * is the per-outer count, so the rows tile (max outer + 1) x count. */
  private def books[T](name: String, outer: String, head: Seq[(String, DataType)],
      optional: Boolean = false)(split: T => (Array[Array[Array[Float]]], Row))(
      join: (Array[Array[Array[Float]]], Row) => T) = new Sidecar[T](name,
      Seq(outer -> IntegerType, "j" -> IntegerType, "centroid" -> ArrayType(FloatType)) ++ head,
      optional, grid = true)({ v =>
    val (cb, h) = split(v)
    for (o <- cb.indices; j <- cb(o).indices) yield Seq[Any](o, j, cb(o)(j).toSeq) ++ h.toSeq
  })({ (rs, dir) =>
    val cb = Array.ofDim[Array[Float]](rs.map(_.getInt(0)).max + 1, rs(0).getInt(3))
    tiles(rs, dir, cb.length, rs(0).getInt(3))
    widths(rs, 2, dir)
    rs.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    join(cb, Row.fromSeq(rs(0).toSeq.drop(3)))
  })

  private def pqBooks(name: String, optional: Boolean = false) =
    books[PqModel](name, "m", ints("ksub", "dsub"), optional)(p =>
      (p.codebooks, Row(p.ksub, p.dsub)))((cb, h) => PqModel(cb.length, h.getInt(0), h.getInt(1), cb))

  private def rqBooks(name: String) = books[RqModel](name, "level", ints("k"))(m =>
    (m.codebooks, Row(m.k)))((cb, h) => RqModel(cb.length, h.getInt(0), cb))

  /** Scalar norm codebooks (AdditiveQuantizer norm_tabs) `(l, j, c)`,
    * tiling levels x 16. */
  private def normBooks(name: String) = new Sidecar[Array[Array[Double]]](name,
      ints("l", "j") :+ ("c" -> DoubleType), grid = true)(cb =>
      for (l <- cb.indices; j <- cb(l).indices) yield Seq[Any](l, j, cb(l)(j)))({ (rs, dir) =>
    val out = Array.ofDim[Double](rs.map(_.getInt(0)).max + 1, 16)
    tiles(rs, dir, out.length, 16)
    rs.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    out
  })

  type Range = (Array[Double], Array[Double])

  /** A trained SQ range `(dim, vmin, vdiff)`, optional and possibly empty
    * on disk: [[ranged]] lets only a rangeless codec (fp16) lack it. */
  private def sqRange(name: String) = new Sidecar[Range](name,
      Seq("dim" -> IntegerType, "vmin" -> DoubleType, "vdiff" -> DoubleType),
      optional = true, emptyOk = true)(r =>
      r._1.indices.map(i => Seq[Any](i, r._1(i), r._2(i))))({ (rs, dir) =>
    tiles(rs, dir, rs.length)
    val sorted = rs.sortBy(_.getInt(0))
    (sorted.map(_.getDouble(1)), sorted.map(_.getDouble(2)))
  })

  private def ranged(l: Loaded, c: Component[Range], rangeless: Boolean): Range =
    if (rangeless) (Array.empty, Array.empty)
    else { l.check(l(c)._1.nonEmpty, c, "no trained range for a ranged codec"); l(c) }

  /** ZnLattice codec `(j, mn, mx, d, nsq, scale_nbit, r2)` over j < nsq;
    * the sphere enumeration re-derives from (dsq, r2), so no codebook is
    * stored (write_index of IndexLattice). */
  private def latticeMeta(name: String) = new Sidecar[graft.core.LatticeCodec](name,
      Seq("j" -> IntegerType, "mn" -> FloatType, "mx" -> FloatType) ++
        ints("d", "nsq", "scale_nbit", "r2"), grid = true)(c =>
      (0 until c.nsq).map(j => Seq[Any](j, c.mins(j), c.maxs(j), c.d, c.nsq, c.scaleNbit, c.r2)))({
    (rs, dir) =>
      val h = rs(0)
      tiles(rs, dir, h.getInt(4))
      val sorted = rs.sortBy(_.getInt(0))
      new graft.core.LatticeCodec(h.getInt(3), h.getInt(4), h.getInt(5), h.getInt(6),
        sorted.map(_.getFloat(1)), sorted.map(_.getFloat(2)))
  })

  /** A VectorTransform chain (write_VectorTransform / read_VectorTransform,
    * faiss/index_io.h:67): one row per part, `pos` nesting chains. */
  private def transformPart(name: String, optional: Boolean = false) = new Sidecar[VecTransform](
      name, Seq("pos" -> IntegerType, "kind" -> StringType, "row" -> IntegerType,
        "weights" -> ArrayType(FloatType), "bias" -> ArrayType(FloatType)), optional)({ t =>
    def go(t: VecTransform, pos: Int): Seq[Seq[Any]] = t match {
      case Normalization => Seq(Seq[Any](pos, "l2norm", -1, Nil, Nil))
      case Centering(m) => Seq(Seq[Any](pos, "center", -1, m.toSeq, Nil))
      case Remap(idx) => Seq(Seq[Any](pos, "remap", -1, idx.map(_.toFloat).toSeq, Nil))
      case Linear(a, b) => a.indices.map(i =>
        Seq[Any](pos, "linear", i, a(i).toSeq, if (b == null) Nil else Seq[Any](b(i))))
      case Chain(ts) => ts.zipWithIndex.flatMap { case (s, i) => go(s, pos * 100 + i) }
    }
    go(t, 0)
  })({ (rs, dir) =>
    val parts = rs.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, ps) =>
      ps.head.getString(1) match {
        case "l2norm" => Normalization
        case "center" => Centering(ps.head.getSeq[Float](3).toArray)
        case "remap" => Remap(ps.head.getSeq[Float](3).map(_.toInt).toArray)
        case "linear" =>
          val sorted = ps.sortBy(_.getInt(2))
          check(sorted.map(_.getInt(2)).sameElements(sorted.indices), dir, "linear row gap")
          val biases = sorted.map(_.getSeq[Float](4))
          Linear(sorted.map(_.getSeq[Float](3).toArray),
            if (biases.head.isEmpty) null else biases.map(_.head).toArray)
        case other => throw corrupt(dir, s"unknown transform part '$other'")
      }
    }
    if (parts.length == 1) parts.head else Chain(parts)
  })

  /** A whole saved index nested under this one (RefineFlat's coarse stage). */
  final class Inner[T: ClassTag](name: String) extends Component[T](name, false, false) {
    def write(spark: SparkSession, v: T, dir: String): Unit = save(v, dir)
    def read(spark: SparkSession, dir: String): Option[T] = Some(load[T](spark, dir))
  }

  /** A family's components as read from `path`. */
  final class Loaded private[IndexIO] (path: String, got: Map[Component[_], Option[Any]]) {
    def apply[T](c: Component[T]): T =
      got(c).getOrElse(throw corrupt(s"$path/${c.name}", "missing")).asInstanceOf[T]
    def check(ok: Boolean, c: Component[_], why: => String): Unit =
      IndexIO.check(ok, s"$path/${c.name}", why)
  }

  /** A family's component with how to read it off an index. */
  final class Part[I](val c: Component[_], val get: I => Option[Any])

  /** One persisted family: kind tag, class, components, and its
    * constructor from the loaded components. */
  final class Family[I] private[IndexIO] (val kind: String, val cls: Class[_],
      parts: Seq[Part[I]], val make: Loaded => I) {
    val components: Seq[Component[_]] = parts.map(_.c)
    private[IndexIO] def values(idx: Any) = parts.map(p => (p.c, p.get(idx.asInstanceOf[I])))
  }

  private def family[I: ClassTag](kind: String, parts: Part[I]*)(make: Loaded => I) =
    new Family(kind, classTag[I].runtimeClass, parts, make)

  private val listCodes = new Codes("codes", Some("list_no"), "id", "list_no:int", "code")
  private val flatCodes = new Codes("codes", None, "id", "code")
  private val cents = lists[Float]("centroids", "centroid", FloatType, "nlist" -> IntegerType)
  private val pqCb = pqBooks("codebooks")
  private val rqCb = rqBooks("codebooks")
  private val kindTag = record("kind", "kind" -> StringType)

  /** An IVF family stored as list codes + centroids + one codebook
    * (+ `extra` parts); `get` reads (codes, centroids, codebook) off it. */
  private def ivf[I: ClassTag, M](kind: String, codes: Codes, cb: Component[M],
      extra: Part[I]*)(get: I => (DataFrame, Array[Array[Float]], M))(
      make: (Array[Array[Float]], M, DataFrame, Loaded) => I) =
    family[I](kind, Seq(codes.of[I](get(_)._1), cents.of[I](i => (get(i)._2,
      Row(get(i)._2.length))), cb.of[I](get(_)._3)) ++ extra: _*)(l =>
      make(l(cents)._1, l(cb), l(codes), l))

  /** The one kind -> family table. */
  val families: Seq[Family[_]] = {
    val ivfInv = new Codes("invlists", Some("list_no"), "id", "vec", "list_no:int")
    val ivfMeta = lists[Float]("meta", "centroid", FloatType,
      "d" -> IntegerType, "metric" -> StringType, "nlist" -> IntegerType)
    val sqMeta = sqRange("meta"); val qtype = record("qtype", "qtype" -> StringType)
    val pqMeta = pqBooks("meta"); val coarse = pqBooks("coarse")
    val bivfInv = new Codes("invlists", Some("list_no"), "id", "code", "list_no:int")
    val bits = lists[Int]("meta", "bits", IntegerType, "nlist" -> IntegerType)
    val imiInv = new Codes("invlists", Some("cell"), "id", "vec", "cell:int")
    val cellCodes = new Codes("codes", Some("cell"), "id", "cell:int", "code")
    val miqCodes = new Codes("codes", None, "id", "cell:long", "code")
    val shCodes = new Codes("codes", Some("list_no"), "id", "list_no:int", "sig")
    val shCents = lists[Float]("centroids", "centroid", FloatType,
      "nlist" -> IntegerType, "nbit" -> IntegerType, "period" -> DoubleType)
    val shTh = lists[Float]("thresholds", "thresh", FloatType); val vt = transformPart("vt")
    val normCb = normBooks("normcb"); val normScale = record("meta", "norm_scale" -> IntegerType)
    val byRes = record("meta", "by_residual" -> BooleanType)
    val ivfsqRange = sqRange("range")
    val ivfsqMeta = record("meta", "qtype" -> StringType, "by_residual" -> BooleanType)
    val nqCodes = new Codes("codes", Some("list_no"), "id", "list_no:int", "code", "nq:double?")
    val nonorm = record("meta", "nonorm" -> BooleanType)
    val codeSize = record("meta", "code_size" -> IntegerType)
    val bucketCodes = new Codes("codes", Some("bucket"), "id", "code", "bucket:long")
    val hashB = record("meta", "b" -> IntegerType)
    val multiHash = record("meta", ints("nhash", "b"): _*)
    val rot = transformPart("rot", optional = true)
    // per-dimension LSH thresholds `(i, t)`
    val lshTh = new Sidecar[Array[Double]]("thresholds", Seq("i" -> IntegerType,
      "t" -> DoubleType), optional = true)(th => th.indices.map(i => Seq[Any](i, th(i))))({
      (rs, dir) => tiles(rs, dir, rs.length); rs.sortBy(_.getInt(0)).map(_.getDouble(1)) })
    val lshMeta = record("meta", "rotate_data" -> BooleanType, "train_thresholds" -> BooleanType)
    val lattice = latticeMeta("meta")
    val mmCodes = new Codes("codes", None, "id", "_mn:double", "_sc:double", "code")
    val mmMeta = record("meta", "inner" -> StringType, "fp16_coeffs" -> BooleanType)
    val mmRange = sqRange("range"); val mmBooks = pqBooks("codebooks", optional = true)
    val sqInner = new Inner[SqIndex]("inner"); val base = new Codes("base", None, "id", "vec")
    val refineMeta = record("meta", "k_factor" -> IntegerType, "metric" -> StringType)
    def codeWidth(codes: DataFrame) = codes.select(length(col("code")).cast("int"))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    Seq(
      family[IvfIndex]("ivfflat", ivfInv.of(_.invlists),
        ivfMeta.of(i => (i.centroids, Row(i.d, i.metric, i.nlist)))) { l =>
        val (c, h) = l(ivfMeta); new IvfIndex(h.getInt(0), h.getString(1), c.length, c, l(ivfInv))
      },
      family[SqIndex]("sq", flatCodes.of(_.codes), sqMeta.of(i => (i.vmin, i.vdiff)),
        qtype.of(i => Row(i.qtype))) { l =>
        val q = l(qtype).getString(0); val (vmin, vdiff) = ranged(l, sqMeta, q == "fp16")
        new SqIndex(vmin, vdiff, l(flatCodes), q)
      },
      family[PqIndex]("pq", flatCodes.of(_.codes), pqMeta.of(_.model))(l =>
        new PqIndex(l(pqMeta), l(flatCodes))),
      ivf[IvfPqIndex, PqModel]("ivfpq", listCodes, pqCb)(i => (i.codes, i.centroids, i.model))(
        (c, m, codes, _) => new IvfPqIndex(c.length, c, m, codes)),
      // Index2Layer: IVFPQ's trained state over sequential (unpartitioned)
      // codes, the class's defining property (faiss/Index2Layer.h:29)
      ivf[TwoLayerIndex, PqModel]("twolayer", new Codes("codes", None, "id", "list_no:int",
        "code"), pqCb)(i => (i.codes, i.centroids, i.model))((c, m, codes, _) =>
        new TwoLayerIndex(c.length, c, m, codes)),
      family[BinaryIvfIndex]("bivf", bivfInv.of(_.invlists),
        bits.of(i => (i.centroidBits, Row(i.nlist)))) { l =>
        val b = l(bits)._1; new BinaryIvfIndex(b.length, b, l(bivfInv))
      },
      family[ImiIndex]("imi", imiInv.of(_.invlists), pqMeta.of(_.model))(l =>
        new ImiIndex(l(pqMeta).ksub, l(pqMeta), l(imiInv))),
      // IMI2x<b>,PQ<m>: write_index of the SIFT1B flagship composition
      family[ImiPqIndex]("imipq", cellCodes.of(_.codes), coarse.of(_.coarse),
        pqCb.of(_.model))(l => new ImiPqIndex(l(coarse).ksub, l(coarse), l(pqCb), l(cellCodes))),
      family[MiqTwoLayerIndex]("miq2layer", miqCodes.of(_.codes), coarse.of(_.coarse),
        pqCb.of(_.model)) { l =>
        new MiqTwoLayerIndex(l(coarse).m, l(coarse).ksub, l(coarse), l(pqCb), l(miqCodes))
      },
      family[IvfSpectralHashIndex]("ivfsh", shCodes.of(_.codes),
        shCents.of(i => (i.centroids, Row(i.nlist, i.nbit, i.period))),
        shTh.of(i => (i.thresholds, Row())), vt.of(_.vt)) { l =>
        val (c, h) = l(shCents); val th = l(shTh)._1
        l.check(th.length == c.length, shTh, s"${th.length} lists, centroids have ${c.length}")
        new IvfSpectralHashIndex(c.length, h.getInt(1), h.getDouble(2), c,
          l(vt).asInstanceOf[Linear], th, l(shCodes))
      },
      // fast-scan codes stay nibble-packed on disk, half the width of
      // the plain PQ/RQ saves
      family[Pq4FastScanIndex]("pq4fs", flatCodes.of(_.codes), pqMeta.of(_.model))(l =>
        new Pq4FastScanIndex(l(pqMeta), l(flatCodes))),
      ivf[IvfPq4FastScanIndex, PqModel]("ivfpq4fs", listCodes, pqCb)(i =>
        (i.codes, i.centroids, i.model))((c, m, codes, _) =>
        new IvfPq4FastScanIndex(c.length, c, m, codes)),
      ivf[IvfPq4FastScanRIndex, PqModel]("ivfpq4fsr", listCodes, pqCb)(i =>
        (i.codes, i.centroids, i.model))((c, m, codes, _) =>
        new IvfPq4FastScanRIndex(c.length, c, m, codes)),
      // the AQ fast-scan family persists its norm codebooks AND the
      // trained norm_scale, which a retrain would re-estimate differently
      family[Rq4FastScanIndex]("rq4fs", flatCodes.of(_.codes), rqCb.of(_.model),
        normCb.of(_.normCb), normScale.of(i => Row(i.normScale))) { l =>
        new Rq4FastScanIndex(l(rqCb), l(normCb), l(flatCodes), l(normScale).getInt(0))
      },
      // both IVF AQ fast-scan forms share one layout; the IVF families
      // search with norm_scale 1 (their reference default), so no scale
      // is stored, and the kind tag (not the by_residual flag) decides
      ivf[IvfRq4FastScanIndex, RqModel]("ivfrq4fs", listCodes, rqCb, normCb.of(_.normCb),
        byRes.of(_ => Row(false)))(i => (i.codes, i.centroids, i.model))((c, m, codes, l) =>
        new IvfRq4FastScanIndex(c.length, c, m, l(normCb), codes)),
      ivf[IvfRq4FastScanRIndex, RqModel]("ivfrq4fsr", listCodes, rqCb, normCb.of(_.normCb),
        byRes.of(_ => Row(true)))(i => (i.codes, i.centroids, i.model))((c, m, codes, l) =>
        new IvfRq4FastScanRIndex(c.length, c, m, l(normCb), codes)),
      // write_index of IndexIVFScalarQuantizer: + the SQ trained range
      // (absent only for fp16) and qtype/by_residual
      family[IvfSqIndex]("ivfsq", listCodes.of(_.codes), cents.of(i => (i.centroids, Row(i.nlist))),
        ivfsqRange.of(i => (i.vmin, i.vdiff)), ivfsqMeta.of(i => Row(i.qtype, i.byResidual))) { l =>
        val c = l(cents)._1; val m = l(ivfsqMeta)
        val (vmin, vdiff) = ranged(l, ivfsqRange, m.getString(0) == "fp16")
        new IvfSqIndex(c.length, c, vmin, vdiff, m.getBoolean(1), l(listCodes), m.getString(0))
      },
      ivf[IvfRqIndex, RqModel]("ivfrq", listCodes, rqCb)(i => (i.codes, i.centroids, i.model))(
        (c, m, codes, _) => new IvfRqIndex(c.length, c, m, codes)),
      // the LUT form: the decoded stored norm `nq` bakes the norm codec
      // in (see IvfRqNormIndex), so a reload scans bit-identically with
      // no retrain; the codes table is stored once
      ivf[IvfRqNormIndex, RqModel]("ivfrqnorm", nqCodes, rqCb, nonorm.of(i => Row(i.nonorm)))(
        i => (i.codesNq, i.idx.centroids, i.idx.model)) { (c, m, stored, l) =>
        val nn = l(nonorm).getBoolean(0)
        l.check(nn || stored.columns.contains("nq"), nqCodes, "no nq column")
        val codes = if (nn) stored.drop("nq") else stored
        new IvfRqNormIndex(new IvfRqIndex(c.length, c, m, codes), codes, nn)
      },
      // ntotal = 0 round-trips (write_index_binary handles it): code_size
      // 0 when there are no rows to derive a width from
      family[DataFrame]("bflat", flatCodes.of(df => df), codeSize.of(df => Row(codeWidth(df)))) { l =>
        val want = l(codeSize).getInt(0); val got = codeWidth(l(flatCodes))
        l.check(got == want || got == 0, codeSize, s"stored code width $got != meta $want")
        l(flatCodes)
      },
      // bucket-partitioned, so a reloaded query scan keeps the pruning
      family[BinaryHashIndex]("bhash", bucketCodes.of(_.codes), hashB.of(i => Row(i.b)))(l =>
        new BinaryHashIndex(l(hashB).getInt(0), l(bucketCodes))),
      family[BinaryMultiHashIndex]("bmultihash", flatCodes.of(_.codes),
        multiHash.of(i => Row(i.nhash, i.b))) { l =>
        new BinaryMultiHashIndex(l(multiHash).getInt(0), l(multiHash).getInt(1), l(flatCodes))
      },
      family[LshIndex]("lsh", flatCodes.of(_.codes), rot.of(_.rot), lshTh.of(_.thresholds.orNull),
        lshMeta.of(i => Row(i.rot != null, i.thresholds.isDefined))) { l =>
        val m = l(lshMeta)
        new LshIndex(if (m.getBoolean(0)) l(rot).asInstanceOf[Linear] else null,
          if (m.getBoolean(1)) Some(l(lshTh)) else None, l(flatCodes))
      },
      family[LatticeIndex]("lattice", flatCodes.of(_.codes), lattice.of(_.codec))(l =>
        new LatticeIndex(l(lattice), l(flatCodes))),
      // IndexRowwiseMinMax[FP16]: the wrapper flag + the inner's trained
      // state (SQ range rows or PQ codebooks; SQfp16 is stateless)
      family[MinMaxIndex]("minmax", mmCodes.of(_.codes), mmMeta.of(i => Row(i.inner, i.fp16Coeffs)),
        mmRange.of(i => if (i.sqMins.nonEmpty) (i.sqMins, i.sqDiff) else null),
        mmBooks.of(_.pqModel)) { l =>
        val inner = l(mmMeta).getString(0)
        val (mins, diff) = ranged(l, mmRange, !Seq("SQ8", "SQ4", "SQ6").contains(inner))
        new MinMaxIndex(inner, l(mmMeta).getBoolean(1), mins, diff,
          if (inner.startsWith("PQ")) l(mmBooks) else null, l(mmCodes))
      },
      // IndexRefineFlat: the SQ coarse stage is a nested saved index,
      // the refine storage the exact base table
      family[RefineFlatIndex]("refineflat", sqInner.of(_.inner), base.of(_.base),
        refineMeta.of(i => Row(i.kFactor, i.metric))) { l =>
        new RefineFlatIndex(l(sqInner), l(base), l(refineMeta).getInt(0),
          l(refineMeta).getString(1))
      })
  }

  /** write_index: the index's components under `path`, then its kind tag
    * last — the commit marker [[load]] requires. An old tag is dropped
    * first, so an overwrite that dies midway is not a saved index. */
  def save(idx: Any, path: String): Unit = {
    val f = families.find(_.cls.isInstance(idx)).getOrElse(throw new IllegalArgumentException(
      s"no persisted index family for ${idx.getClass.getName}"))
    val parts = f.values(idx)
    val spark = parts.collectFirst { case (_, Some(df: Dataset[_])) => df.sparkSession }.get
    JsonSidecar.remove(spark, s"$path/kind")
    parts.foreach { case (c, v) =>
      v.foreach(c.asInstanceOf[Component[Any]].write(spark, _, s"$path/${c.name}"))
    }
    kindTag.write(spark, Row(f.kind), s"$path/kind")
  }

  /** The stored family tag of a saved index. */
  def loadKind(spark: SparkSession, path: String): String =
    kindTag.read(spark, s"$path/kind").map(_.getString(0)).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no kind tag — not a saved index, or its save did not finish"))

  /** read_index (faiss/index_io.h:38 — open ANY saved index without
    * being told its family): dispatches on the kind tag, checks the
    * stored family is a `T` (pass T explicitly: `load[Any]` takes any,
    * an inferred T is Nothing), then reads and validates every component. */
  def load[T: ClassTag](spark: SparkSession, path: String): T = {
    val kind = loadKind(spark, path)
    val f = families.find(_.kind == kind).getOrElse(throw new IllegalArgumentException(
      s"$path: unknown index kind '$kind'"))
    val want = classTag[T].runtimeClass
    require(want.isAssignableFrom(f.cls),
      s"$path holds a '$kind' index (${f.cls.getSimpleName}), not a ${want.getSimpleName}")
    val got = f.components.map { c =>
      val v = c.read(spark, s"$path/${c.name}")
      check(v.isDefined || c.optional, s"$path/${c.name}", "missing")
      c -> v
    }.toMap[Component[_], Option[Any]]
    f.make(new Loaded(path, got)).asInstanceOf[T]
  }

  /** reverse_index_factory over a PERSISTED index
    * (contrib/factory_tools.py:76 applied to a read_index result):
    * load the saved state and derive the canonical factory string.
    * Families whose trained state deliberately bakes a spelling
    * distinction (decoded stored norms, trained per-list thresholds)
    * refuse with an explanation — see
    * [[graft.index.IndexFactory.reverseIndexFactory]]. */
  def reverseFactory(spark: SparkSession, path: String): String =
    load[Any](spark, path) match {
      case _: Dataset[_] => "BFlat" // a bare codes table, no structure to walk
      case idx => IndexFactory.reverseIndexFactory(idx)
    }

  /** Forwards to [[save]]; kept because perfbench/, a separate build, calls it. */
  def saveIvfPq(idx: IvfPqIndex, path: String): Unit = save(idx, path)
  /** Forwards to [[load]]; kept because perfbench/, a separate build, calls it. */
  def loadIvfPq(spark: SparkSession, path: String): IvfPqIndex = load[IvfPqIndex](spark, path)

  // ---- public component codecs --------------------------------------
  private val rqModel = rqBooks(""); private val transform = transformPart("")
  def saveRq(spark: SparkSession, model: RqModel, path: String): Unit =
    rqModel.write(spark, model, path)
  def loadRq(spark: SparkSession, path: String): RqModel =
    rqModel.read(spark, path).getOrElse(throw corrupt(path, "missing"))
  def saveTransform(spark: SparkSession, t: VecTransform, path: String): Unit =
    transform.write(spark, t, path)
  def loadTransform(spark: SparkSession, path: String): VecTransform =
    transform.read(spark, path).getOrElse(throw corrupt(path, "missing"))
}
