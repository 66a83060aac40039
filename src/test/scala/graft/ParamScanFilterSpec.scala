package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoSql._
import graft.plans.{ParameterizeScanFilters, ParamLiteral}
import graft.sources.GraftScan
import graft.spatial.{GeoTable, GraftFileIndex, Snapshots, SpatialJoin}

/** [[ParameterizeScanFilters]]: the filter above a graft scan compiles
  * once per shape. Pruning must still see the real constants, every face
  * must answer like a plain parquet read of the same files, and plans
  * that differ only in their constants must never be mistaken for one
  * another.
  */
class ParamScanFilterSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val N = 4000

  /** id → (attr, x0, y0, x1, y1); every 10th row a small rectangle. */
  private def row(id: Int): (Int, Double, Double, Double, Double) = {
    val x = -80.0 + (id * 7919 % 16000) / 100.0
    val y = -40.0 + (id * 104729 % 8000) / 100.0
    val attr = id * 37 % 1000
    if (id % 10 == 0) (attr, x, y, x + 0.35, y + 0.2) else (attr, x, y, x, y)
  }

  private lazy val warehouse: String = {
    graft.spatial.Geo.install(spark)
    val wh = Files.createTempDirectory("graft_param_wh").toString
    spark.conf.set("spark.sql.catalog.paramcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.paramcat.warehouse", wh)
    wh
  }

  private def writeTable(name: String): String = {
    import spark.implicits._
    val tbl = s"$warehouse/db/$name"
    val src = (0 until N).map { id => val (a, x0, y0, x1, y1) = row(id); (id.toLong, a, x0, y0, x1, y1) }
      .toDF("id", "attr", "x0", "y0", "x1", "y1")
      .select(col("id"), col("attr"),
        when(col("x0") === col("x1"), st_point(col("x0"), col("y0")))
          .otherwise(st_makeenvelope(col("x0"), col("y0"), col("x1"), col("y1"))).as("geom"))
    GeoTable.write(src, tbl, "geom", res = 8, numFiles = 8)
    tbl
  }

  private lazy val table: String = writeTable("t")

  /** The same table with a predicate delete and a positional delete. */
  private lazy val deleted: (String, Set[Long]) = {
    val tbl = writeTable("d")
    Snapshots.deleteMoR(spark, tbl, "id % 7 = 0")
    val posIds = Set(11L, 12L, 13L, 2001L)
    val pos = Snapshots.read(spark, tbl)
      .select(expr("_metadata.file_path").as("file_path"),
        expr("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id").isin(posIds.toSeq: _*)).drop("id")
    Snapshots.deleteByPosition(spark, tbl, pos)
    (tbl, (0L until N).filter(_ % 7 == 0).toSet ++ posIds)
  }

  private final case class Win(x0: Double, y0: Double, x1: Double, y1: Double) {
    def env: Column = if (x0 == x1 && y0 == y1) st_point(lit(x0), lit(y0))
      else st_makeenvelope(lit(x0), lit(y0), lit(x1), lit(y1))
    def sql: String = if (x0 == x1 && y0 == y1) s"st_point(${x0}D, ${y0}D)"
      else s"st_makeenvelope(${x0}D, ${y0}D, ${x1}D, ${y1}D)"
  }

  private val pointWin = { val (_, x, y, _, _) = row(1234); Win(x, y, x, y) }
  private val cityWin = Win(-20.5, -10.25, 5.75, 12.5)
  private val disjointWin = Win(120.0, 10.0, 125.0, 15.0)
  private val joinEnvs = Seq(1L -> Win(-30.0, -5.0, -25.0, 0.5), 2L -> Win(10.0, 10.0, 12.5, 20.0),
    3L -> Win(-27.0, -2.0, -24.0, 2.0))

  /** A read face of `tbl`: the V1 relation, `format("graft")`, catalog SQL. */
  private def face(f: String, tbl: String, w: Win, maxAttr: Option[Int], deletes: Boolean): DataFrame = {
    val name = new Path(tbl).getName
    val hit = f match {
      case "v1" =>
        val d = if (deletes) Snapshots.read(spark, tbl) else GeoTable.read(spark, tbl)
        d.filter(st_intersects(col("geom"), w.env))
      case "graft" => spark.read.format("graft").load(tbl).filter(st_intersects(col("geom"), w.env))
      case "sql" => spark.sql(s"SELECT * FROM paramcat.db.$name WHERE st_intersects(geom, ${w.sql})")
    }
    maxAttr.fold(hit)(m => hit.filter(col("attr") < m))
  }

  /** A plain parquet read of the table's live data files, same predicates. */
  private def plain(tbl: String, w: Win, maxAttr: Option[Int]): DataFrame = {
    val files = Snapshots.readManifest(tbl).map(f => new Path(tbl, f.path).toString)
    val hit = spark.read.parquet(files: _*).filter(st_intersects(col("geom"), w.env))
    maxAttr.fold(hit)(m => hit.filter(col("attr") < m))
  }

  private def digest(df: DataFrame, pairCol: Option[String] = None): DataFrame = {
    val h = pairCol.fold(xxhash64(col("id")))(p => xxhash64(col("id"), col(p)))
    df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)), coalesce(bit_xor(h), lit(0L)))
  }

  private def envFrame: DataFrame = {
    import spark.implicits._
    joinEnvs.map { case (e, w) => (e, w.x0, w.y0, w.x1, w.y1) }.toDF("env_id", "ex0", "ey0", "ex1", "ey1")
      .select(col("env_id"), st_makeenvelope(col("ex0"), col("ey0"), col("ex1"), col("ey1")).as("env"))
  }

  private def joinExtent = Win(joinEnvs.map(_._2.x0).min, joinEnvs.map(_._2.y0).min,
    joinEnvs.map(_._2.x1).max, joinEnvs.map(_._2.y1).max)

  /** Runs `df` with the planner hook installed or removed. The plan is
    * optimized first: scan building re-installs the hook. */
  private def run(df: DataFrame, rewrite: Boolean): (Seq[Any], SparkPlan) = {
    df.queryExecution.optimizedPlan
    val saved = spark.experimental.extraStrategies
    if (!rewrite) spark.experimental.extraStrategies = saved.filterNot(_ == ParameterizeScanFilters)
    try (df.collect().toSeq.map(_.toSeq), finalPlan(df))
    finally spark.experimental.extraStrategies = saved
  }

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** (files scanned, files skipped) over every graft scan of a run. */
  private def scanFiles(p: SparkPlan): (Long, Long) = {
    val v1 = collect(p) { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    val v1All = collect(p) { case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong }.sum
    val v2 = collect(p) { case b: BatchScanExec => b.metrics("resultDataFiles").value }.sum
    val v2Skip = collect(p) { case b: BatchScanExec => b.metrics("skippedDataFiles").value }.sum
    (v1 + v2, v1All - v1 + v2Skip)
  }

  /** The filters directly above a graft scan (through row conversion and
    * projection only). */
  private def scanFilters(p: SparkPlan): Seq[FilterExec] = {
    def overScan(c: SparkPlan): Boolean = c match {
      case s: FileSourceScanExec => s.relation.location.isInstanceOf[GraftFileIndex]
      case b: BatchScanExec => b.scan.isInstanceOf[GraftScan]
      case _: ProjectExec | _: ColumnarToRowExec | _: InputAdapter => overScan(c.children.head)
      case _ => false
    }
    collect(p) { case f: FilterExec if overScan(f.child) => f }
  }

  private def parameterized(f: FilterExec): Boolean = f.condition.exists(_.isInstanceOf[ParamLiteral])

  /** Checks one lookup on every face against the plain parquet read, with
    * and without the rewrite. */
  private def checkLookup(tbl: String, deletes: Set[Long], w: Win, maxAttr: Option[Int],
      faces: Seq[String]): Unit = {
    val keep = not(col("id").isin(deletes.toSeq: _*))
    val (want, _) = run(digest(plain(tbl, w, maxAttr).filter(keep)), rewrite = true)
    faces.foreach { f =>
      val (got, on) = run(digest(face(f, tbl, w, maxAttr, deletes.nonEmpty)), rewrite = true)
      val (gotOff, off) = run(digest(face(f, tbl, w, maxAttr, deletes.nonEmpty)), rewrite = false)
      val what = s"$f $w attr<${maxAttr.getOrElse("-")}"
      assert(got == want, s"$what: parameterized result differs from plain parquet")
      assert(gotOff == want, s"$what: literal result differs from plain parquet")
      assert(scanFiles(on) == scanFiles(off), s"$what: file pruning changed")
      val (fs, fo) = (scanFilters(on), scanFilters(off))
      assert(fs.nonEmpty && fs.forall(parameterized), s"$what: scan filter not parameterized:\n$on")
      assert(fo.nonEmpty && !fo.exists(parameterized), s"$what: hook removed yet parameterized")
      val v1Scans = collect(on) {
        case s: FileSourceScanExec if s.relation.location.isInstanceOf[GraftFileIndex] => s
      }
      v1Scans.foreach { s =>
        assert(!s.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])), what)
        val pushed = s.metadata("PushedFilters")
        assert(pushed.contains("LessThanOrEqual(geom_bbox.xmin,") && !pushed.contains("param"),
          s"$what: V1 PushedFilters must carry literals: $pushed")
      }
    }
  }

  private val faces = Seq("v1", "graft", "sql")

  test("point, window, window + attr and disjoint lookups equal a plain parquet read on every face") {
    Seq((pointWin, None), (cityWin, None), (cityWin, Some(300)), (disjointWin, None))
      .foreach { case (w, m) => checkLookup(table, Set.empty, w, m, faces) }
    // the disjoint window prunes every file on every face
    Seq("v1", "graft").foreach { f =>
      val (_, p) = run(digest(face(f, table, disjointWin, None, deletes = false)), rewrite = true)
      assert(scanFiles(p)._1 == 0, s"$f: a disjoint window must scan no file")
    }
  }

  test("a read with predicate and positional deletes answers the same with and without the rewrite") {
    val (tbl, gone) = deleted
    Seq((cityWin, None), (cityWin, Some(500)), (Win(-80.0, -40.0, 80.0, 40.0), None))
      .foreach { case (w, m) => checkLookup(tbl, gone, w, m, faces) }
  }

  test("a spatial join over a filtered graft scan equals the plain parquet join") {
    val want = run(digest(SpatialJoin.intersects(plain(table, joinExtent, None), "geom",
      envFrame, "env", cellDeg = 0.5), Some("env_id")), rewrite = true)._1
    faces.foreach { f =>
      def q = digest(SpatialJoin.intersects(face(f, table, joinExtent, None, deletes = false),
        "geom", envFrame, "env", cellDeg = 0.5), Some("env_id"))
      val (on, pOn) = run(q, rewrite = true)
      val (off, pOff) = run(q, rewrite = false)
      assert(on == want && off == want, s"$f join: $on / $off, plain parquet $want")
      assert(scanFiles(pOn) == scanFiles(pOff), s"$f join: file pruning changed")
      assert(scanFilters(pOn).exists(parameterized), s"$f join: scan filter not parameterized")
    }
  }

  test("after one warm lookup, five more windows and attr bounds compile nothing, on every face") {
    val rnd = new scala.util.Random(7)
    def win(): Win = {
      val (cx, cy) = (-60.0 + 120.0 * rnd.nextDouble(), -30.0 + 60.0 * rnd.nextDouble())
      val half = 0.5 + 10.0 * rnd.nextDouble()
      Win(cx - half, cy - half, cx + half, cy + half)
    }
    faces.foreach { f =>
      def lookup(): Unit = digest(face(f, table, win(), Some(10 + rnd.nextInt(980)), deletes = false)).collect()
      lookup()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 5).foreach(_ => lookup())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      assert(compiles == 0, s"$f: $compiles compiles over five lookups of one shape")
      // the guard can fail: with the hook removed every window compiles
      val c1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(digest(face(f, table, win(), Some(10 + rnd.nextInt(980)), deletes = false)), rewrite = false)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > c1, s"$f: a literal window compiled nothing")
    }
  }

  test("one plan holding two windows returns both rows; the windows never share a result") {
    val other = Win(30.0, -20.0, 45.0, -5.0)
    def reused(p: SparkPlan) = collect(p) { case r: ReusedExchangeExec => r }.size
    Seq("v1", "graft").foreach { f =>
      def one(w: Win) = digest(face(f, table, w, None, deletes = false))
      val want = Seq(cityWin, other).map(w => run(digest(plain(table, w, None)), rewrite = true)._1.head)
      assert(want.distinct.size == 2, "fixture windows must differ in their answer")
      val (got, p) = run(one(cityWin).union(one(other)), rewrite = true)
      assert(got.toSet == want.toSet, s"$f union: $got, want $want")
      assert(reused(p) == 0, s"$f: two windows reused one exchange")
      // the AQE final plan is still parameterized
      val filters = scanFilters(p)
      assert(filters.size == 2 && filters.forall(parameterized), s"$f final plan:\n$p")
      assert(!filters(0).sameResult(filters(1)), s"$f: two windows' filters are sameResult")
      // the same window twice: the rewrite reuses exactly what the
      // literal plan reuses (V1 shares the exchange)
      val same = one(cityWin)
      val (twice, p2) = run(same.union(same), rewrite = true)
      val (twiceOff, p2Off) = run(same.union(same), rewrite = false)
      assert(twice == Seq(want.head, want.head) && twiceOff == twice)
      assert(reused(p2) == reused(p2Off), s"$f: the rewrite changed exchange reuse")
      if (f == "v1") assert(reused(p2) == 1, s"$f: the same window was not reused")
    }
  }
}
