package graft

import org.scalatest.funsuite.AnyFunSuite

/** Interpreted-vs-codegen parity for the custom Catalyst expressions
  * (GeoExpressions / GeoKernels / TextStatsExpressions /
  * VectorExpressions / ZOrderExpressions). The oracle gate only ever
  * exercises the whole-stage-codegen path; production clusters DO hit the
  * interpreted fallback (generated method over 64KB, codegen compile
  * failure, expressions nested in non-codegen operators), and a divergent
  * `eval` would silently change answers exactly there.
  *
  * Two nets, both required:
  *  - an EXHAUSTIVE per-kernel net: every concrete `Expression` subclass
  *    in the compiled `graft.functions` package is discovered mechanically
  *    from the classes directory and must have a micro-parity snippet —
  *    a new kernel cannot ship outside the net (the spec fails listing
  *    it), and a deleted kernel flags its stale snippet;
  *  - kernel-heavy END-TO-END query families, because composition (joins,
  *    aggregates, exploded arrays around the kernels) has its own
  *    interpreted/codegen seams a scalar micro-query never crosses.
  *
  * Comparisons are sorted MULTISETS, not sets: a divergence that only
  * changes row multiplicity (a kernel emitting a row twice) must fail.
  */
class CodegenParitySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private val queryFamilies = Seq(
    "text_quality", "text_repetition", "text_langid", "text_fingerprint",
    "dedup_simhash", "dedup_minhash", "sim_cosine_topk", "sim_ann_lsh",
    "geo_envelope_filter", "geo_hilbert_index", "geo_spatial_join",
    "mm_phash_dedup", "q16_scalar_funcs")

  /** Canonical comparable row: arrays → seqs, binary → seq, rows → seqs. */
  private def keyOf(r: org.apache.spark.sql.Row): String = {
    def canon(x: Any): Any = x match {
      case a: Array[Byte] => a.toSeq
      case a: Array[_] => a.toSeq.map(canon)
      case s: scala.collection.Seq[_] => s.map(canon)
      case row: org.apache.spark.sql.Row => row.toSeq.map(canon)
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, v) => (canon(k), canon(v)) }.sortBy(_.toString)
      case y => y
    }
    r.toSeq.map(canon).toString
  }

  /** Sorted multiset of a result — duplicate-count-preserving. */
  private def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(keyOf).toSeq.sorted

  private def interpreted[T](body: => T): T = {
    val saved = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every concrete Expression subclass compiled under graft.functions —
    * read from the classes directory, so the discovery can't go stale.
    */
  private def discoveredKernels: Set[String] = {
    val loader = graft.functions.GeoSql.getClass.getClassLoader
    val url = Class.forName("graft.functions.GeoSql$", false, loader)
      .getProtectionDomain.getCodeSource.getLocation
    val dir = java.nio.file.Paths.get(url.toURI).resolve("graft/functions")
    val expr = Class.forName(
      "org.apache.spark.sql.catalyst.expressions.Expression", false, loader)
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".class") && !n.contains("$"))
        .map(n => n.stripSuffix(".class"))
        .filter { n =>
          val c = Class.forName(s"graft.functions.$n", false, loader)
          expr.isAssignableFrom(c) &&
            !java.lang.reflect.Modifier.isAbstract(c.getModifiers) &&
            !c.isInterface
        }
        .toSet
    } finally listing.close()
  }

  /** One SQL select-expression per kernel, evaluated over the fixture
    * view `pframe` (nulls + empty/degenerate geometries included).
    */
  private val snippets: Map[String, String] = Map(
    "StGeomFromText" -> "st_geomfromtext(wkt)",
    "StGeomFromWkb" -> "st_geomfromwkb(g)",
    "StGeomFromGeoJson" -> "st_geomfromgeojson(st_asgeojson(g))",
    "StAsText" -> "st_astext(g)",
    "StAsGeoJson" -> "st_asgeojson(g)",
    "StAsEwkb" -> "st_asewkb(g)",
    "StPoint" -> "st_point(x, y)",
    "StMakeEnvelope" -> "st_makeenvelope(x, y, x + 2D, y + 3D)",
    "StIntersects" -> "st_intersects(g, h)",
    "StCovers" -> "st_covers(g, h)",
    "StContains" -> "st_contains(g, h)",
    "StWithin" -> "st_within(g, h)",
    "StDistance" -> "st_distance(g, h)",
    "StDWithin" -> "st_dwithin(g, h, 1.5D)",
    "StEnvelope" -> "st_envelope(g)",
    "StCentroid" -> "st_centroid(g)",
    "StBuffer" -> "st_buffer(g, 0.5D)",
    "StX" -> "st_x(g)",
    "StY" -> "st_y(g)",
    "StXMin" -> "st_xmin(g)",
    "StXMax" -> "st_xmax(g)",
    "StYMin" -> "st_ymin(g)",
    "StYMax" -> "st_ymax(g)",
    "StArea" -> "st_area(g)",
    "StLength" -> "st_length(g)",
    "StIsEmpty" -> "st_isempty(g)",
    "StIsValid" -> "st_isvalid(g)",
    "StBboxStruct" -> "st_bbox(g)",
    "StUnion" -> "st_union(g, h)",
    "StIntersection" -> "st_intersection(g, h)",
    "StDifference" -> "st_difference(g, h)",
    "StSimplify" -> "st_simplify(g, 0.2D)",
    "StConvexHull" -> "st_convexhull(g)",
    "StGeometryType" -> "st_geometrytype(g)",
    "StNumGeometries" -> "st_numgeometries(g)",
    "StNumPoints" -> "st_numpoints(g)",
    "StExtent" -> "st_extent(g)", // aggregate: evaluated without the id key
    "StTransform" -> "st_transform(g, 4326, 3857)",
    "HilbertIndex" -> "hilbert(g, 8, -10D, -10D, 10D, 10D)",
    "ZOrderKey" -> "zorder_key(id, x)",
    "VecDot" -> "vec_dot(v, w)",
    "VecCosine" -> "vec_cosine(v, w)",
    "VecBandSig" -> ("vec_band_sig(v, array(array(0.1D, -0.2D, 0.3D, 0.05D), " +
      "array(-0.3D, 0.2D, 0.1D, -0.1D)), 2, 1)"),
    "VecNearest" -> ("vec_nearest(v, array(array(0D, 0D, 0D, 0D), " +
      "array(1D, 1D, 1D, 1D)), 1)"),
    // start=1 exercises the subvector offset; the 3-element second
    // centroid overruns the 4-d fixture vector from start=1 by one, so
    // the clamp path is covered too
    "VecSubL2" -> ("vec_sub_l2(v, array(array(0D, 0D), " +
      "array(1D, 1D, 1D)), 1)"),
    // two sequential merges, the second matching output of the first —
    // the chained-pass semantics the BPE encoder leans on
    "BpeApply" -> ("bpe_apply(t, array(' a\\n l\\n', ' al\\n p\\n'), " +
      "array(' al\\n', ' alp\\n'))"),
    "CountInSet" -> "count_in_set(sarr, array('alpha', 'beta'))",
    "HashMix" -> "hash_mix(id, 31L, 7L)",
    "TextStats" -> "text_stats(t, array('the', 'a'))",
    "TextHits" -> "lang_hits(t, array(array('the', 'and'), array('le', 'la')))",
    "RepStats" -> "rep_stats(t)",
    "SimHash64" -> "simhash64(t)",
    "ShingleHashes" -> "shingle_hashes(t)",
    "ShingleHashesN" -> "shingle_hashes_n(t, 3)")

  private val aggregates = Set("StExtent")

  private def installAll(): Unit = {
    graft.functions.GeoSql.install(spark)
    graft.functions.VectorSql.install(spark)
  }

  private def mkFixture(): Unit = {
    installAll()
    spark.sql("""
      SELECT id,
        wkt,
        CASE WHEN wkt IS NULL THEN CAST(NULL AS BINARY)
             ELSE st_geomfromtext(wkt) END AS g,
        st_geomfromtext(hwkt) AS h,
        x, y, t,
        CASE WHEN id = 5 THEN CAST(NULL AS ARRAY<DOUBLE>)
             ELSE array(x, y, x + y, x - y) END AS v,
        array(y, x, 1D, -1D) AS w,
        split(coalesce(t, ''), ' ') AS sarr
      FROM VALUES
        (0L, 'POINT (1 2)',                          'POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))', 1.0D,  2.0D, 'the quick brown fox the fox'),
        (1L, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',  'POINT (2 2)',                         0.5D, -1.5D, 'le chat et le chien'),
        (2L, 'LINESTRING (0 0, 2 3, 5 1)',           'LINESTRING (0 3, 5 0)',              -2.0D,  4.0D, 'aaaa aaaa aaaa aaaa'),
        (3L, 'MULTIPOINT ((1 1), (2 2), (8 8))',     'POLYGON ((5 5, 9 5, 9 9, 5 9, 5 5))',  3.0D,  3.0D, 'alpha beta gamma'),
        (4L, 'POINT EMPTY',                          'POINT (0 0)',                          0.0D,  0.0D, NULL),
        (5L, NULL,                                   'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', -1.0D,  1.0D, 'und der die das und')
        AS raw(id, wkt, hwkt, x, y, t)
    """).createOrReplaceTempView("pframe")
  }

  test("EXHAUSTIVE kernel net: every concrete graft.functions Expression " +
      "has a parity snippet, and each snippet is byte-identical interpreted") {
    mkFixture()
    val discovered = discoveredKernels
    assert(discovered == snippets.keySet,
      s"kernel net out of date — missing snippets: ${discovered -- snippets.keySet}, " +
        s"stale snippets: ${snippets.keySet -- discovered}")
    val sqls = snippets.map { case (name, body) =>
      name -> (if (aggregates(name)) s"SELECT $body AS out FROM pframe"
               else s"SELECT id, $body AS out FROM pframe")
    }
    // each snippet must actually exercise its kernel (guards a renamed
    // registration silently no-oping the net)
    sqls.foreach { case (name, q) =>
      val present = spark.sql(q).queryExecution.analyzed.expressions.exists(
        _.exists(_.getClass.getName == s"graft.functions.$name"))
      assert(present, s"snippet for $name does not contain the expression")
    }
    val codegen = sqls.map { case (name, q) => name -> multiset(spark.sql(q)) }
    val inter = interpreted {
      sqls.map { case (name, q) => name -> multiset(spark.sql(q)) }
    }
    sqls.keys.foreach { name =>
      assert(inter(name) == codegen(name),
        s"$name: interpreted eval diverged from the codegen path")
    }
  }

  test("kernel-heavy query families return identical row multisets with " +
      "whole-stage codegen AND the codegen factory disabled") {
    val codegen = queryFamilies.map(n =>
      n -> multiset(SparkEntry.queries(n)(spark, sf))).toMap
    interpreted {
      queryFamilies.foreach { n =>
        val i = multiset(SparkEntry.queries(n)(spark, sf))
        assert(i == codegen(n),
          s"$n: interpreted eval diverged from the codegen path " +
            s"(${i.size} vs ${codegen(n).size} rows)")
      }
    }
  }

  test("graft.plans.ParamLiteral (outside the discovered package): generated and " +
      "interpreted projections agree with each other and with Literal") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.plans.ParamLiteral
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      ByteType -> Seq(Byte.MinValue, 0.toByte, 7.toByte),
      ShortType -> Seq(Short.MaxValue, -3.toShort),
      IntegerType -> Seq(Int.MinValue, 0, 42),
      LongType -> Seq(Long.MaxValue, -1L),
      FloatType -> Seq(Float.NaN, -0.0f, 1.5f),
      DoubleType -> Seq(Double.NaN, -0.0, 12.5, Double.NegativeInfinity),
      DateType -> Seq(0, 19000),
      TimestampType -> Seq(0L, 1700000000000000L),
      TimestampNTZType -> Seq(-5L, 86400000000L))
    cases.foreach { case (dt, values) =>
      val col = BoundReference(0, dt, nullable = true)
      def exprs(c: Any => Expression): Seq[Expression] = values.flatMap { v =>
        Seq(c(v), EqualTo(col, c(v)), LessThanOrEqual(col, c(v)), GreaterThan(c(v), col))
      }
      val param = exprs(ParamLiteral(_, dt))
      val literal = exprs(Literal(_, dt))
      val generated = GenerateUnsafeProjection.generate(param)
      val interp = InterpretedUnsafeProjection.createProjection(param)
      val oracle = InterpretedUnsafeProjection.createProjection(literal)
      (values :+ null).foreach { in =>
        val row = InternalRow(in)
        val want = oracle(row).copy()
        assert(generated(row).copy() == want, s"$dt $in: generated ParamLiteral diverged from Literal")
        assert(interp(row).copy() == want, s"$dt $in: interpreted ParamLiteral diverged from Literal")
      }
    }
  }

  test("a parameterized graft lookup answers the same with whole-stage codegen off " +
      "and with the codegen factory disabled") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.functions._
    import graft.functions.GeoSql._
    installAll()
    val dir = java.nio.file.Files.createTempDirectory("graft_param_parity").toString
    val src = spark.range(0, 600, 1, 2).toDF("id")
      .withColumn("attr", (col("id") * 37 % 100).cast("int"))
      .withColumn("geom", st_point((col("id") % 60).cast("double") - 30.0,
        (col("id") / 60).cast("double") - 5.0))
    graft.spatial.GeoTable.write(src, dir, "geom", res = 8, numFiles = 4)
    def lookups = Seq(
      graft.spatial.GeoTable.read(spark, dir),
      spark.read.format("graft").load(dir)).map { t =>
      t.filter(st_intersects(col("geom"), st_makeenvelope(lit(-12.5), lit(-2.0), lit(6.25), lit(3.5))))
        .filter(col("attr") < 61)
    }
    val codegen = lookups.map(multiset)
    assert(codegen.forall(_.nonEmpty) && codegen.distinct.size == 1)
    def parameterized(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect { case f: FilterExec => f }
        .exists(_.condition.exists(_.isInstanceOf[graft.plans.ParamLiteral]))
    val saved = spark.conf.getOption("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      lookups.zip(codegen).foreach { case (df, want) =>
        assert(multiset(df) == want, "whole-stage codegen off: the lookup diverged")
        assert(parameterized(df), "whole-stage codegen off: the scan filter is not parameterized")
      }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.codegen.wholeStage", v)
      case None => spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    interpreted {
      lookups.zip(codegen).foreach { case (df, want) =>
        assert(multiset(df) == want, "codegen factory disabled: the lookup diverged")
      }
    }
  }
}
