package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.functions.GeoSql
import graft.spatial.{GeoTable, SpatialJoin}

/** Seeded geo rows: clustered "cities" of points over a uniform
  * background, plus a share of small axis-aligned rectangles. Every row is
  * a pure function of (seed, id), so Spark generates the table and the
  * benchmark regenerates the same rows in memory for its brute-force
  * answers.
  */
final class GeoGen(seed: Long, val n: Int) extends Serializable {
  import GeoGen._
  val cities: Array[(Double, Double, Double)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(Cities)((uniform(r, XMin + 5, XMax - 5), uniform(r, YMin + 5, YMax - 5),
      0.2 + 1.8 * r.nextDouble()))
  }

  /** (attr, x0, y0, x1, y1); a point has x0 == x1 and y0 == y1. */
  def row(id: Long): (Int, Double, Double, Double, Double) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val (x, y) =
      if (r.nextDouble() < ClusterShare) {
        val (cx, cy, s) = cities(r.nextInt(Cities))
        (clamp(cx + s * r.nextGaussian(), XMin, XMax), clamp(cy + s * r.nextGaussian(), YMin, YMax))
      } else (uniform(r, XMin, XMax), uniform(r, YMin, YMax))
    val attr = r.nextInt(1000)
    if (r.nextDouble() < PolygonShare) {
      val w = 0.005 + 0.1 * r.nextDouble()
      val h = 0.005 + 0.1 * r.nextDouble()
      (attr, x, y, math.min(x + w, XMax), math.min(y + h, YMax))
    } else (attr, x, y, x, y)
  }
}

object GeoGen {
  // data lives in this box; "disjoint" query windows lie east of it
  val XMin = -170.0; val XMax = 170.0; val YMin = -80.0; val YMax = 80.0
  val Cities = 48
  val ClusterShare = 0.75
  val PolygonShare = 0.10
  def uniform(r: SplittableRandom, a: Double, b: Double): Double = a + (b - a) * r.nextDouble()
  def clamp(v: Double, a: Double, b: Double): Double = math.max(a, math.min(b, v))
  /** WKB bytes of a point and of a closed 5-vertex ring. */
  val PointWkb = 21
  val RectWkb = 93

  /** The generated rows as a DataFrame (id, attr, geom). */
  def frame(spark: SparkSession, g: GeoGen, parts: Int): DataFrame = {
    import spark.implicits._
    GeoSql.install(spark)
    spark.range(0, g.n, 1, parts).as[Long]
      .map { id => val (a, x0, y0, x1, y1) = g.row(id); (id, a, x0, y0, x1, y1) }
      .toDF("id", "attr", "x0", "y0", "x1", "y1")
      .select(col("id"), col("attr"),
        when(col("x0") === col("x1") && col("y0") === col("y1"),
          GeoSql.st_point(col("x0"), col("y0")))
          .otherwise(GeoSql.st_makeenvelope(col("x0"), col("y0"), col("x1"), col("y1")))
          .as("geom"))
  }
}

/** The generated rows held in memory, for brute-force answers. */
final class GeoOracle(g: GeoGen) {
  val n: Int = g.n
  val attr = new Array[Int](n)
  val x0 = new Array[Double](n); val y0 = new Array[Double](n)
  val x1 = new Array[Double](n); val y1 = new Array[Double](n)
  val hash = new Array[Long](n)
  (0 until n).foreach { i =>
    val (a, ax0, ay0, ax1, ay1) = g.row(i.toLong)
    attr(i) = a; x0(i) = ax0; y0(i) = ay0; x1(i) = ax1; y1(i) = ay1
    hash(i) = XXH64.hashLong(i.toLong, 42L)
  }
  def isPoint(i: Int): Boolean = x0(i) == x1(i) && y0(i) == y1(i)
  def logicalBytes: Long =
    (0 until n).map(i => 12L + (if (isPoint(i)) GeoGen.PointWkb else GeoGen.RectWkb)).sum

  /** (count, sum(id), bit_xor(xxhash64(id))) of rows intersecting the
    * closed window, optionally with attr < maxAttr. */
  def window(w: Win, maxAttr: Int = Int.MaxValue): Digest = {
    var c = 0L; var s = 0L; var h = 0L
    var i = 0
    while (i < n) {
      if (x0(i) <= w.x1 && x1(i) >= w.x0 && y0(i) <= w.y1 && y1(i) >= w.y0 && attr(i) < maxAttr) {
        c += 1; s += i; h ^= hash(i)
      }
      i += 1
    }
    Digest(c, s, h)
  }

  /** (count, sum(id), bit_xor(xxhash64(id, env_id))) of intersecting
    * (row, envelope) pairs. */
  def join(envs: Seq[(Long, Win)]): Digest = {
    var c = 0L; var s = 0L; var h = 0L
    envs.foreach { case (e, w) =>
      var i = 0
      while (i < n) {
        if (x0(i) <= w.x1 && x1(i) >= w.x0 && y0(i) <= w.y1 && y1(i) >= w.y0) {
          c += 1; s += i; h ^= XXH64.hashLong(e, hash(i))
        }
        i += 1
      }
    }
    Digest(c, s, h)
  }
}

final case class Win(x0: Double, y0: Double, x1: Double, y1: Double) {
  /** The window as a geometry literal: a point when it has no extent. */
  def env = if (x0 == x1 && y0 == y1) GeoSql.st_point(lit(x0), lit(y0))
    else GeoSql.st_makeenvelope(lit(x0), lit(y0), lit(x1), lit(y1))
}

final case class Digest(count: Long, sum: Long, xor: Long)

object Digest {
  def of(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  /** The digest aggregate over `df`, by id (and `pairCol`, if given). */
  def agg(df: DataFrame, pairCol: Option[String] = None): DataFrame = {
    val h = pairCol.fold(xxhash64(col("id")))(p => xxhash64(col("id"), col(p)))
    df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)), coalesce(bit_xor(h), lit(0L)))
  }
  def check(got: Digest, want: Digest): Option[String] =
    if (got == want) None else Some(s"digest $got, brute force $want")
}

/** The scan phase of the geo workload: a read-only closed loop of seeded
  * spatial lookups on one Hilbert-clustered geo table, built once and read
  * again and again, so metadata caches and the page cache stay warm.
  * Reads alternate between the DSv2 face (`format("graft")`) and the V1
  * face (`GeoTable.read`).
  */
final class ScanPhase(ctx: Ctx) {
  import ScanPhase._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val gen = new GeoGen(ctx.args.seed, Rows)
  private def tablePath(i: Int) = ctx.work.resolve(s"scan_table_$i")
  private var path = ""
  private var oracle: GeoOracle = _
  private val rnd = new SplittableRandom(ctx.args.seed * 31 + 7)
  private val c = ctx.client

  /** Build the table (one of the repeated set-ups). */
  def setup(i: Int): Unit = {
    t.span("spatial", "GeoTable.write")(
      GeoTable.write(GeoGen.frame(spark, gen, ctx.args.cpus * 2), tablePath(i).toString, "geom",
        numFiles = Files))
    path = tablePath(i).toString
  }

  /** The brute-force oracle, built once; returns its seconds. */
  def prepare(): Double = {
    val o0 = System.nanoTime()
    oracle = new GeoOracle(gen)
    (System.nanoTime() - o0) / 1e9
  }

  private val deck = new Deck(Mix, rnd)
  private val dealt = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  /** Each kind of op alternates between the faces, so every run has every
    * (kind, face) pair and pays each pair's first-use cost once. */
  private def face(kind: String): String = {
    dealt(kind) += 1
    if (dealt(kind) % 2 == 1) "graft" else "v1"
  }

  private def read(f: String): DataFrame =
    if (f == "graft") t.span("sources", "format(graft).load")(spark.read.format("graft").load(path))
    else t.span("spatial", "GeoTable.read")(GeoTable.read(spark, path))

  private val area = (GeoGen.XMax - GeoGen.XMin) * (GeoGen.YMax - GeoGen.YMin)

  private def window(): Win = {
    // side: a point-sized window up to ~10% of the data extent's area
    val frac = math.pow(10, -6 + 5 * rnd.nextDouble())
    val side = math.sqrt(frac * area)
    val u = rnd.nextDouble()
    if (u < 0.5) {
      // centred on a city
      val (x, y, s) = gen.cities(rnd.nextInt(GeoGen.Cities))
      val (cx, cy) = (x + s * rnd.nextGaussian(), y + s * rnd.nextGaussian())
      Win(cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2)
    } else if (u < 0.8) {
      // anywhere in the data extent, mostly empty background
      val cx = GeoGen.uniform(rnd, GeoGen.XMin, GeoGen.XMax)
      val cy = GeoGen.uniform(rnd, GeoGen.YMin, GeoGen.YMax)
      Win(cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2)
    } else {
      // east of the data extent: disjoint from every file, prunes them all
      val s = math.min(side, 3.0)
      val cx = GeoGen.XMax + 2 + 7 * rnd.nextDouble()
      val cy = GeoGen.uniform(rnd, GeoGen.YMin, GeoGen.YMax)
      Win(math.max(cx - s / 2, GeoGen.XMax + 0.5), cy - s / 2, cx + s / 2, cy + s / 2)
    }
  }

  private def point(): Win =
    if (rnd.nextBoolean()) {
      val i = rnd.nextInt(oracle.n)
      val x = (oracle.x0(i) + oracle.x1(i)) / 2; val y = (oracle.y0(i) + oracle.y1(i)) / 2
      Win(x, y, x, y)
    } else {
      val x = GeoGen.uniform(rnd, GeoGen.XMin, GeoGen.XMax)
      val y = GeoGen.uniform(rnd, GeoGen.YMin, GeoGen.YMax)
      Win(x, y, x, y)
    }

  /** One op dealt from the seeded deck [[ScanPhase.Mix]]. */
  def op(): Unit = {
    val kind = deck.next()
    val f = face(kind)
    if (kind == "point") {
      val w = point()
      c.run("point", f) { val d = lookup(f, w, None); (d, d.count) }(Digest.check(_, oracle.window(w)))
    } else if (kind == "window") {
      val w = window()
      c.run("window", f) { val d = lookup(f, w, None); (d, d.count) }(Digest.check(_, oracle.window(w)))
    } else if (kind == "window_attr") {
      val w = window()
      val maxAttr = 10 + rnd.nextInt(890)
      c.run("window_attr", f) { val d = lookup(f, w, Some(maxAttr)); (d, d.count) }(
        Digest.check(_, oracle.window(w, maxAttr)))
    } else {
      val (cx, cy, s) = gen.cities(rnd.nextInt(GeoGen.Cities))
      val envs = (0 until 16).map { e =>
        val x = cx + 2 * s * rnd.nextGaussian(); val y = cy + 2 * s * rnd.nextGaussian()
        val half = 0.025 + 0.5 * rnd.nextDouble()
        e.toLong -> Win(x - half, y - half, x + half, y + half)
      }
      c.run("join", f) { val d = join(f, envs); (d, d.count) }(Digest.check(_, oracle.join(envs)))
    }
  }

  private def lookup(f: String, w: Win, maxAttr: Option[Int]): Digest = {
    val hit = read(f).filter(GeoSql.st_intersects(col("geom"), w.env))
    val q = maxAttr.fold(hit)(m => hit.filter(col("attr") < m))
    t.span("spark", "collect")(Digest.of(Digest.agg(q).collect().head))
  }

  private def join(f: String, envs: Seq[(Long, Win)]): Digest = {
    import spark.implicits._
    val ext = Win(envs.map(_._2.x0).min, envs.map(_._2.y0).min, envs.map(_._2.x1).max, envs.map(_._2.y1).max)
    val left = read(f).filter(GeoSql.st_intersects(col("geom"), ext.env))
    val right = envs.map { case (e, w) => (e, w.x0, w.y0, w.x1, w.y1) }
      .toDF("env_id", "ex0", "ey0", "ex1", "ey1")
      .select(col("env_id"), GeoSql.st_makeenvelope(col("ex0"), col("ey0"), col("ex1"), col("ey1")).as("env"))
    val joined = t.span("spatial", "SpatialJoin.intersects")(
      SpatialJoin.intersects(left, "geom", right, "env", cellDeg = 0.5))
    t.span("spark", "collect")(Digest.of(Digest.agg(joined, Some("env_id")).collect().head))
  }

  private val lookups = Set("point", "window", "window_attr")
  private def isLookup(o: Op) = lookups(o.kind)

  /** Per-layer metrics of this phase (traced runs). */
  def layer: Map[String, Double] = {
    val writes = t.spans.filter(s => s.op < 0 && s.name == "GeoTable.write").map(_.ms)
    t.sourceMetrics(c, o => isLookup(o) && o.face == "graft") ++ Map(
      "sources.read_ms" -> c.medianMs(o => isLookup(o) && o.face == "graft"),
      "spatial.v1_read_ms" -> c.medianMs(o => isLookup(o) && o.face == "v1"),
      "spatial.join_ms" -> c.medianMs(_.kind == "join"),
      "spatial.table_write_ms" -> (if (writes.isEmpty) 0.0 else Stats.median(writes.toSeq)))
  }

  def tableBytes: Long = Bench.dirBytes(java.nio.file.Paths.get(path))

  def details: Map[String, Any] = Map(
    "rows" -> Rows, "bytes" -> tableBytes, "logical_bytes" -> oracle.logicalBytes,
    "data_files" -> Bench.listFiles(java.nio.file.Paths.get(path)).count(_.getFileName.toString.endsWith(".parquet")),
    "polygon_share" -> GeoGen.PolygonShare, "cities" -> GeoGen.Cities,
    "cluster_share" -> GeoGen.ClusterShare)

  def spaceAmp: Double = tableBytes.toDouble / oracle.logicalBytes
}

object ScanPhase {
  val Rows = 100000
  val Files = 32
  /** The op mix, one deck of 10: a point lookup, 7 windows, a window
    * with an attribute predicate and a batch join. */
  val Mix: Seq[String] = Seq("point", "window", "window_attr", "join") ++ Seq.fill(6)("window")
}

/** File-system helpers shared by the workloads. */
object Bench {
  def listFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toList
      } finally s.close()
    }
  def dirBytes(root: java.nio.file.Path): Long =
    listFiles(root).map(p => java.nio.file.Files.size(p)).sum
}
