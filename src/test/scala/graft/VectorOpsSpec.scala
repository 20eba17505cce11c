package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, VecDot, VectorOps}
import graft.llm.Ann

/** VecDot: the native codegen'd dot product must be bit-identical to the
  * composable HOF formulation it replaces (a left-to-right fold in the
  * accumulator type), for each element type it accepts. PlaneProj: the
  * native hyperplane projection must be bit-identical to the literal sign
  * chain it replaces, nulls and short arrays included.
  */
class VectorOpsSpec extends SparkSpecBase {

  /** One element type under test: the name its kernel goes by in the test
    * names, its SQL name, its accumulator, random row generation and the
    * pretty name the plans show. */
  private case class Elem(kernel: String, sql: String, acc: String, prettyName: String,
                          rows: (scala.util.Random, Int) => DataFrame,
                          read: (Row, Int) => Any)

  private val elems: Seq[Elem] = {
    import spark.implicits._
    def pairs[T](n: Int)(gen: => T): Seq[(Seq[T], Seq[T])] =
      Seq.fill(200)((Seq.fill(n)(gen), Seq.fill(n)(gen)))
    Seq(
      Elem("FloatVecDot", "float", "double", "float_vec_dot",
        (rnd, n) => pairs(n)(rnd.nextFloat() * 2 - 1).toDF("a", "b"),
        (r, i) => java.lang.Double.doubleToLongBits(r.getDouble(i))),
      Elem("IntVecDot", "int", "bigint", "int_vec_dot",
        (rnd, n) => pairs(n)(rnd.nextInt(255) - 127).toDF("a", "b"),
        (r, i) => r.getLong(i)),
      Elem("DoubleVecDot", "double", "double", "double_vec_dot",
        (rnd, n) => pairs(n)(rnd.nextDouble() * 2 - 1).toDF("a", "b"),
        (r, i) => java.lang.Double.doubleToLongBits(r.getDouble(i))))
  }
  private def elem(kernel: String): Elem = elems.find(_.kernel == kernel).get

  /** The reference fold: zip_with pads the shorter array with null and
    * aggregate propagates it, left to right in the accumulator type. */
  private def hofDot(e: Elem)(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(e.acc) * y.cast(e.acc)),
      lit(0).cast(e.acc), (acc, v) => acc + v)

  // local frames would otherwise be projected at optimization time,
  // interpreted, in both runs below
  private val NoLocalFold = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** `q`'s rows with the projection compiled by whole-stage codegen, then
    * with codegen off and expressions interpreted. */
  private def compiledAndInterpreted(q: => DataFrame): (Seq[Row], Seq[Row]) = {
    val compiled = withSQLConf(NoLocalFold) {
      val df = q
      assert(df.queryExecution.executedPlan.exists {
        case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
        case _ => false
      }, df.queryExecution.executedPlan.toString)
      df.collect().toSeq
    }
    val interpreted = withSQLConf(NoLocalFold, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(q.collect().toSeq)
    (compiled, interpreted)
  }

  /** `df`'s native dot, compiled, is `ref` bit for bit. The reference is
    * selected on its own: its lambdas keep a projection out of whole-stage
    * codegen. */
  private def sameBits(e: Elem, df: DataFrame, ref: Column): Unit = {
    val native = df.select(VectorOps.dot(col("a"), col("b")))
    assert(native.columns.head == s"${e.prettyName}(a, b)")
    val (compiled, _) = compiledAndInterpreted(native)
    val want = df.select(ref).collect().toSeq
    assert(compiled.size == want.size)
    compiled.zip(want).foreach { case (g, w) => assert(e.read(g, 0) == e.read(w, 0), e.sql) }
  }

  for (e <- elems) {
    test(s"${e.kernel} matches the zip_with/aggregate fold bit-for-bit") {
      sameBits(e, e.rows(new scala.util.Random(42), 64), hofDot(e)(col("a"), col("b")))
    }

    test(s"${e.kernel} interpreted eval matches codegen path") {
      val (compiled, interpreted) = compiledAndInterpreted(
        e.rows(new scala.util.Random(7), 64).select(VectorOps.dot(col("a"), col("b"))))
      assert(compiled.size == 200)
      assert(compiled.map(e.read(_, 0)) == interpreted.map(e.read(_, 0)), e.sql)
    }
  }

  test("IntVecDot: exact long dot, codegen/interpreted parity, null semantics") {
    import spark.implicits._
    // against a Scala long fold, not the HOF: products widen before they
    // multiply (Int.MaxValue² overflows an int), and a length mismatch, a
    // null array or a null element yields NULL
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Option[Seq[Option[Int]]], Option[Seq[Option[Int]]])] =
      Seq.fill(100)((Some(Seq.fill(64)(Some(rnd.nextInt(255) - 127))),
        Some(Seq.fill(64)(Some(rnd.nextInt(255) - 127))))) ++ Seq(
        (Some(Seq(Some(Int.MaxValue), Some(Int.MinValue))),
          Some(Seq(Some(Int.MaxValue), Some(Int.MaxValue)))),
        (Some(Seq(Some(1), Some(2))), Some(Seq(Some(3), Some(4), Some(5)))),
        (None, Some(Seq(Some(1)))),
        (Some(Seq(Some(1), None, Some(2))), Some(Seq(Some(1), Some(1), Some(1)))))
    val want = rows.map { case (a, b) =>
      for {
        x <- a; y <- b if x.size == y.size
        terms = x.zip(y).map { case (p, q) => for (i <- p; j <- q) yield i.toLong * j }
        if terms.forall(_.isDefined)
      } yield terms.flatten.sum
    }
    assert(want.takeRight(4) == Seq(Some(-Int.MaxValue.toLong), None, None, None))
    val (compiled, interpreted) = compiledAndInterpreted(
      rows.toDF("a", "b").select(VectorOps.dot(col("a"), col("b"))))
    for (got <- Seq(compiled, interpreted))
      assert(got.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))) == want)
  }

  test("DoubleVecDot matches the explicit element_at chain bit-for-bit") {
    // the double kernel replaced an explicit element_at chain in logreg:
    // same fold order, so the same bits at the 129-term width it serves
    val n = 129
    val e = elem("DoubleVecDot")
    sameBits(e, e.rows(new scala.util.Random(7), n), (0 until n)
      .map(j => element_at(col("a"), j + 1) * element_at(col("b"), j + 1))
      .reduce(_ + _))
  }

  test("null array, null element, or length mismatch yields NULL like the HOF fold") {
    for (e <- elems) {
      val t = s"array<${e.sql}>"
      val df = spark.sql(
        s"""SELECT * FROM VALUES
           |  (CAST(array(1, 2) AS $t), CAST(array(3, 4, 5) AS $t)),
           |  (CAST(NULL AS $t), CAST(array(1) AS $t)),
           |  (CAST(array(1, NULL, 2) AS $t), CAST(array(1, 1, 1) AS $t))
           |  AS v(a, b)""".stripMargin)
      val (compiled, interpreted) =
        compiledAndInterpreted(df.select(VectorOps.dot(col("a"), col("b"))))
      val ref = df.select(hofDot(e)(col("a"), col("b"))).collect().toSeq
      for (rows <- Seq(compiled, interpreted, ref)) {
        assert(rows.size == 3)
        assert(rows.forall(_.isNullAt(0)), e.sql)
      }
    }
  }

  // ---------------------------------------------------------------------
  // PlaneProj: the ±1 hyperplane projection against the literal chain it
  // replaced — Σ_d element_at(v, d + 1)·sign(j, d), folded left to right
  // from the first term — which lives on here as the reference only.
  // ---------------------------------------------------------------------

  /** The md5-derived sign, re-derived independently of Ann.planeSign. */
  private def sign(j: Int, d: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if ((Integer.parseInt(hex.substring(0, 1), 16) & 1) == 1) 1 else -1
  }
  private def chainProj(v: Column, j: Int): Column =
    (0 until Ann.Dim).map(d => element_at(v, d + 1).cast("double") * sign(j, d)).reduce(_ + _)
  private def chainBucket(v: Column): Column =
    (0 until Ann.NumPlanes).map { j =>
      when(chainProj(v, j) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Random Dim-wide float vectors plus the edge rows: ±0.0 elements, an
    * all-zero and an all-negative-zero vector, a null array, a null
    * element, and an array longer than Dim (only its first Dim count). */
  private def projRows: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Option[Float]] = Seq.fill(Ann.Dim)(Some(rnd.nextFloat() * 2 - 1))
    val zeros = vec().zipWithIndex.map { case (x, i) =>
      if (i % 3 == 0) Some(0.0f) else if (i % 3 == 1) Some(-0.0f) else x }
    val rows: Seq[Option[Seq[Option[Float]]]] =
      Seq.fill(300)(Some(vec())) ++ Seq(
        Some(zeros),
        Some(Seq.fill(Ann.Dim)(Some(0.0f))),
        Some(Seq.fill(Ann.Dim)(Some(-0.0f))),
        None,
        Some(vec().updated(17, None)),
        Some(vec().updated(0, None)),
        Some(vec() ++ vec()))
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
  }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  test("PlaneProj matches the literal sign chain bit-for-bit, compiled and interpreted") {
    for (j <- Seq(0, 5, Ann.ReducePlaneBase + 3)) {
      val df = projRows
      val (compiled, interpreted) = compiledAndInterpreted(
        df.select(col("id"), VectorOps.planeProj(col("v"), j, Ann.Dim)))
      val want = df.select(col("id"), chainProj(col("v"), j)).collect()
        .map(r => r.getLong(0) -> bits(r, 1)).toMap
      assert(want.values.count(_.isEmpty) == 3, "the null rows must project to NULL")
      for (got <- Seq(compiled, interpreted)) {
        assert(got.size == want.size)
        got.foreach(r => assert(bits(r, 1) == want(r.getLong(0)), s"plane $j row ${r.getLong(0)}"))
      }
    }
  }

  test("lshBucket equals the literal chain's bucket id at 1, 8 and 16 planes") {
    for (planes <- Seq(1, 8, 16)) GraftConfig.withInt("graft.ann.numPlanes", planes) {
      val df = projRows
      def ids(c: Column) = df.select(col("id"), c).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = ids(Ann.lshBucket(col("v")))
      val want = ids(chainBucket(col("v")))
      assert(got == want, s"numPlanes=$planes")
      assert(want.values.toSet.size > 1, s"numPlanes=$planes: one bucket only (vacuous)")
      assert(got(df.count() - 4) == 0L, "a null vector must land in bucket 0")
    }
  }

  test("an array shorter than Dim fails like the chain's element_at under ANSI, else bucket 0") {
    import spark.implicits._
    val short = Seq((0L, Seq(0.5f, -0.25f, 1.0f)), (1L, Seq.empty[Float])).toDF("id", "v")
    def failure(c: => Column): String = withSQLConf(NoLocalFold) {
      intercept[Exception](short.select(c).collect()).toString
    }
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      for (msg <- Seq(failure(Ann.lshBucket(col("v"))), failure(chainBucket(col("v")))))
        assert(msg.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"), msg)
    }
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val (compiled, interpreted) = compiledAndInterpreted(short.select(
        Ann.lshBucket(col("v")), chainBucket(col("v")),
        VectorOps.planeProj(col("v"), 0, Ann.Dim), chainProj(col("v"), 0)))
      for (got <- Seq(compiled, interpreted); r <- got) {
        assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
        assert(r.isNullAt(2) && r.isNullAt(3))
      }
    }
  }

  test("extensions entry registers graft_fdot and its builder constructs the expression") {
    // every SQL name GraftExtensions registers resolves through selectExpr
    // on a session built with the hook (the shared session made the
    // SparkContext; restore it as active/default afterwards)
    spark.range(1).count()
    val s2 = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      val df = s2.range(1).selectExpr(
        "CAST(array(2, 3) AS array<float>) AS f", "array(2, 3) AS i",
        "CAST(array(2, 3) AS array<double>) AS d", "'ab, cd' AS s", "xxhash64(id) AS h")
      val r = df.selectExpr(
        "graft_fdot(f, f)", "graft_idot(i, i)", "graft_ddot(d, d)",
        "graft_tokens(s)", "graft_bpe_segs(s)", "graft_punct_count(s)").head
      assert(r.getDouble(0) == 13.0 && r.getLong(1) == 13L && r.getDouble(2) == 13.0)
      assert(r.getSeq[String](3) == Seq("ab", "cd"))
      assert(r.getSeq[String](4) == Seq("ab", ",", "cd"))
      assert(r.getInt(5) == 1)
      df.createOrReplaceTempView("v")
      assert(s2.sql("""SELECT graft_bloom_contains(
          |  (SELECT graft_bloom_agg(h, 100L, 1024L) FROM v), h) FROM v""".stripMargin)
        .head.getBoolean(0))
      val dot = df.selectExpr("graft_fdot(f, f)").queryExecution.analyzed
        .expressions.flatMap(_.collect { case v: VecDot => v })
      assert(dot.size == 1 && dot.head.prettyName == "float_vec_dot")
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
