package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-4 native expressions: graft_array_bucket (sorted-array
  * binary search — the truncate-boundary lookup as
  * `get(ts, graft_array_bucket(ts, v) - 1)`, and the range-bucket
  * assigner) and graft_l2sq
  * (left-to-right squared-L2 loop — the k-means/PQ distance kernel).
  * Each is pinned for (a) semantics against the declarative form it
  * replaced — which must be EXACTLY equal, the swap is supposed to be
  * invisible — and (b) codegen path coverage. */
class NativeExprSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** The truncate-boundary lookup of AuditLog.truncStates. */
  private val floorSearch = "get(ts, graft_array_bucket(ts, v) - 1)"

  test("floor_search matches array_max(filter(...)) on driven cases") {
    val arr = Seq(10L, 20L, 30L, 40L)
    val probes = Seq(5L, 10L, 15L, 39L, 40L, 99L)
    val df = probes.toDF("v")
      .withColumn("ts", typedLit(arr))
      .withColumn("fast", expr(floorSearch))
      .withColumn("slow", expr("array_max(filter(ts, t -> t <= v))"))
    assert(df.filter(!(col("fast") <=> col("slow"))).count() === 0)
    // explicit edge values
    val got = df.select("v", "fast").as[(Long, Option[Long])].collect().toMap
    assert(got(5L).isEmpty && got(10L).contains(10L) && got(15L).contains(10L)
      && got(39L).contains(30L) && got(40L).contains(40L) && got(99L).contains(40L))
  }

  test("floor_search: empty array returns NULL; interpreted eval agrees") {
    val r = Seq(7L).toDF("v")
      .withColumn("ts", typedLit(Seq.empty[Long]))
      .selectExpr(floorSearch).head()
    assert(r.isNullAt(0))
    // interpreted path (direct eval, outside codegen): the boundary is
    // the element before the count of elements ≤ v, none when it is 0
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val ts = Array(10L, 20L)
    def boundary(v: Long): Option[Long] = {
      val n = graft.audit.ArrayBucket(
        Literal.create(ArrayData.toArrayData(ts), ArrayType(LongType)),
        Literal(v)).eval(null).asInstanceOf[Int]
      ts.lift(n - 1)
    }
    assert(boundary(15L).contains(10L))
    assert(boundary(9L).isEmpty)
  }

  test("array_bucket over bigint and double: empty, all greater, ties, NULL probe; eval ≡ codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
    // (sorted array, probe, expected count of elements ≤ probe)
    val longCases: Seq[(Seq[Long], Option[Long], Option[Int])] = Seq(
      (Seq(), Some(7L), Some(0)),                  // empty array
      (Seq(10L, 20L, 30L), Some(5L), Some(0)),     // all greater
      (Seq(1L, 2L, 2L, 2L, 3L), Some(2L), Some(4)), // ties count
      (Seq(2L, 2L), Some(2L), Some(2)),
      (Seq(10L, 20L, 30L), Some(99L), Some(3)),
      (Seq(10L, 20L, 30L), None, None))            // NULL probe
    val doubleCases: Seq[(Seq[Double], Option[Double], Option[Int])] = Seq(
      (Seq(), Some(0.5), Some(0)),
      (Seq(1.5, 2.5), Some(-1.0), Some(0)),
      (Seq(0.1, 0.25, 0.25, 0.25, 0.9), Some(0.25), Some(4)),
      (Seq(0.25, 0.25), Some(0.25), Some(2)),
      (Seq(0.1, 0.2), Some(1e9), Some(2)),
      (Seq(0.1, 0.2), None, None))
    def check[T](cases: Seq[(Seq[T], Option[T], Option[Int])], elem: DataType,
        df: org.apache.spark.sql.DataFrame): Unit = {
      // codegen: an RDD-backed frame is not folded into a local relation
      val q = df.selectExpr("graft_array_bucket(ts, v) AS n")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [graft_array_bucket"), plan)
      val viaCodegen = q.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Int])).toSeq
      val viaEval = cases.map { case (ts, v, _) =>
        Option(graft.audit.ArrayBucket(
          Literal.create(ArrayData.toArrayData(ts.toArray[Any]), ArrayType(elem)),
          Literal.create(v.orNull, elem)).eval(null)).map(_.asInstanceOf[Int])
      }
      assert(viaCodegen === cases.map(_._3))
      assert(viaEval === cases.map(_._3))
    }
    check(longCases, LongType, spark.sparkContext
      .parallelize(longCases.map(c => (c._1, c._2)), 1).toDF("ts", "v"))
    check(doubleCases, DoubleType, spark.sparkContext
      .parallelize(doubleCases.map(c => (c._1, c._2)), 1).toDF("ts", "v"))
  }

  test("l2sq is bit-identical to the zip_with/aggregate HOF on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
      .select(expr("transform(embedding, x -> cast(x as double))").as("a"))
    val pairs = e.limit(50).crossJoin(
      e.limit(50).select(col("a").as("b")))
    val diff = pairs
      .withColumn("fast", expr("graft_l2sq(a, b)"))
      .withColumn("slow", expr(
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (p, q) -> p + q)"))
      .filter(col("fast") =!= col("slow")) // EXACT equality: same fold order
    assert(diff.count() === 0)
  }

  test("both expressions survive codegen (no interpreted fallback in plan)") {
    // spark.range + id-dependent inputs: a plain local Seq would be
    // constant-folded into a LocalTableScan and never exercise codegen
    val df = spark.range(1)
      .selectExpr("array(1L + id, 5L + id) AS ts", "3L + id AS v",
        "array(1D + id, 2D) AS a", "array(3D, 4D + id) AS b")
      .selectExpr("graft_array_bucket(ts, v) AS f", "graft_l2sq(a, b) AS l")
    df.collect()
    // `*(n)` prefixes mark WholeStageCodegen stages in the compact plan
    // string; both expressions must sit inside the starred Project
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_array_bucket"), plan)
    assert(plan.contains("graft_l2sq"), plan)
    assert(df.head().getInt(0) === 1 && df.head().getDouble(1) === 8.0)
  }

  /** One call per scalar `graft_*` function: SQL arguments over
    * `spark.range`, each depending on `id` so nothing constant-folds. */
  private val scalarCalls: Seq[(String, Seq[String])] = Seq(
    "graft_cosine" -> Seq("array(cast(1 + id AS float), 2F)", "array(3F, cast(4 - id AS float))"),
    "graft_shingles" -> Seq("split(concat('a b a ', cast(id AS string)), ' ')", "2"),
    "graft_minhash_sig" -> Seq("array(concat('w ', cast(id AS string)), 'x y z')"),
    "graft_l2sq" -> Seq("array(1D + id, 2D)", "array(3D, 4D + id)"),
    "graft_array_bucket" -> Seq("array(1L + id, 5L + id)", "3L + id"),
    "graft_dot612" -> Seq("array(0.5D + id, -1.25D)", "array(2D, 0.000001D * id)"),
    "graft_scalevec612" -> Seq("array(0.5D + id, -1.25D)", "0.000001D + id"),
    "graft_deflate6" -> Seq("array(1.5D + id, -2.25D)", "array(0.5D, -0.125D)",
      "0.000001D * (id + 1)"),
    "graft_to_scaled18" -> Seq("0.1D * (id + 1)"),
    "graft_from_scaled18" -> Seq("100000000000000000L * (id + 1)"),
    "graft_to_scaled2" -> Seq("104999.91D + id"),
    "graft_from_scaled2" -> Seq("10499991L + id"),
    "graft_viterbi" -> Seq("substr('ababab', 1, 2 + cast(id AS int))",
      """array(named_struct('piece', 'a', 'cost', CAST(1 AS decimal(18,6))),
        |  named_struct('piece', 'ab', 'cost', CAST(2 AS decimal(18,6))),
        |  named_struct('piece', 'b', 'cost', CAST(1 AS decimal(18,6))))""".stripMargin),
    "graft_from_scaled4_split" -> Seq("3L + id", "1234567L"),
    "graft_gram_stats" -> Seq("split(concat('a b a b ', cast(id AS string)), ' ')", "2"))

  test("every scalar graft_* function stays in codegen; direct eval ≡ codegen, NULL row included") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.Literal
    val scalar = GraftFunctions.descriptions.map(_._1.funcName).filterNot(_ == "graft_vec_sum")
    assert(scalarCalls.map(_._1).sorted === scalar.sorted)
    scalarCalls.foreach { case (name, args) =>
      // row id = 1 carries a NULL first argument
      val sqlArgs = s"IF(id = 1, NULL, ${args.head})" +: args.tail
      val in = spark.range(3).selectExpr(
        sqlArgs.zipWithIndex.map { case (a, i) => s"$a AS a$i" }: _*)
      val q = spark.range(3).selectExpr(s"$name(${sqlArgs.mkString(", ")}) AS r")
      val viaCodegen = q.collect().map(_.get(0)).toSeq
      val plan = q.queryExecution.executedPlan.toString
      assert(s"\\*\\(\\d+\\) Project \\[$name\\(".r.findFirstIn(plan).isDefined,
        s"$name left whole-stage codegen:\n$plan")
      val builder = GraftFunctions.descriptions.find(_._1.funcName == name).get._3
      val viaEval = in.collect().toSeq.map { row =>
        val lits = in.schema.fields.indices.map { i =>
          val dt = in.schema(i).dataType
          Literal(CatalystTypeConverters.createToCatalystConverter(dt)(row.get(i)), dt)
        }
        val e = builder(lits)
        CatalystTypeConverters.createToScalaConverter(e.dataType)(e.eval(null))
      }
      assert(viaEval === viaCodegen, name)
      assert(viaCodegen(1) == null && viaCodegen(0) != null && viaCodegen(2) != null, name)
    }
  }

  test("dot612 equals the exact-decimal product fold, incl. negatives and ties") {
    // values exact at scale 6; includes a HALF_UP tie case: 0.5 * 0.000001
    // = 5e-7, whose scale-6 round is 0.000001 only under half-up
    val a = Seq(0.5, -1.25, 3.141593, 0.000001, -0.000001, 123.456789)
    val b = Seq(0.000001, 2.0, -1.0, 0.5, 0.5, -0.000123)
    val df = Seq(1).toDF("i")
      .withColumn("a", typedLit(a)).withColumn("b", typedLit(b))
      .withColumn("fast", expr("graft_dot612(a, b)"))
      .withColumn("slow", expr(
        """aggregate(zip_with(a, b,
          |  (x, y) -> cast(x as decimal(18,6)) * cast(y as decimal(18,6))),
          |  cast(0 as decimal(28,12)),
          |  (acc, t) -> cast(acc + t as decimal(28,12)))""".stripMargin))
    val r = df.select("fast", "slow").head()
    assert(r.getDecimal(0).compareTo(r.getDecimal(1)) === 0,
      s"fast=${r.getDecimal(0)} slow=${r.getDecimal(1)}")
    // and round-to-6 of the tie behaves HALF_UP identically on both
    val t = df.selectExpr("round(fast, 6)", "round(slow, 6)").head()
    assert(t.getDecimal(0).compareTo(t.getDecimal(1)) === 0)
  }

  test("dot612 overflows loudly on corpus-magnitude inputs; the Pca q fold does not") {
    // |v| = 4000 > ~3034: a single scale-12 term exceeds Long.MaxValue.
    // The kernel's contract is per-row scale-6 vectors of bounded
    // magnitude — corpus-scale matrix-vector sums (Pca's y) must use the
    // DECIMAL fold instead (a scale-12 sum there overflows BIGINT).
    val big = Seq.fill(4)(4000.0)
    val df = Seq(1).toDF("i").withColumn("y_arr", typedLit(big))
    val thrown = intercept[Exception] {
      df.selectExpr("cast(graft_dot612(y_arr, y_arr) as double)").head()
    }
    assert(thrown.getMessage != null)
    // the fold Pca.nextDirection actually uses: exact and in-range
    val q = df.selectExpr(
      """cast(aggregate(zip_with(y_arr, y_arr,
        |  (a, b) -> cast(a as decimal(18,6)) * cast(b as decimal(18,6))),
        |  cast(0 as decimal(38,12)),
        |  (acc, x) -> cast(acc + x as decimal(38,12))) as double)"""
        .stripMargin).head().getDouble(0)
    assert(q === 4 * 4000.0 * 4000.0)
  }

  test("scalevec612 + vec_sum equals the transform/cast feed") {
    val df = Tables.embeddings(spark, sfDir).limit(200)
      .select(expr("transform(embedding, x -> round(cast(x as double), 6))").as("v"),
        expr("round(cast(embedding[0] as double), 6)").as("s"))
    val fast = df.agg(expr("graft_vec_sum(graft_scalevec612(v, s))")).head()
      .getSeq[java.math.BigDecimal](0)
    val slow = df.agg(expr(
        "graft_vec_sum(transform(v, x -> cast(x as decimal(18,6)) * cast(s as decimal(18,6))))"))
      .head().getSeq[java.math.BigDecimal](0)
    assert(fast.size === slow.size)
    fast.zip(slow).foreach { case (f, sl) =>
      assert(f.compareTo(sl) === 0, s"$f vs $sl") }
  }

  test("deflate6 equals the decimal zip_with deflation, HALF_UP at scale 6") {
    val c = Seq(1.5, -2.25, 0.000003, 7.999999)
    val pv = Seq(0.5, 0.5, 0.5, -0.125)
    val s = 0.000001 // s*p = 5e-7 and -1.25e-7: exercises both tie and truncate
    val df = Seq(1).toDF("i")
      .withColumn("c", typedLit(c)).withColumn("p", typedLit(pv))
      .withColumn("s", lit(s))
      .withColumn("fast", expr("graft_deflate6(c, p, s)"))
      .withColumn("slow", expr(
        """zip_with(c, p, (a, b) -> cast(round(
          |  cast(a as decimal(18,6)) - cast(s as decimal(18,6)) * cast(b as decimal(18,6)),
          |  6) as double))""".stripMargin))
    val r = df.select("fast", "slow").head()
    assert(r.getSeq[Double](0) === r.getSeq[Double](1))
  }

  test("fixed-point trio survives codegen and interpreted eval agrees") {
    val df = Tables.embeddings(spark, sfDir).limit(50)
      .select(expr("transform(embedding, x -> round(cast(x as double), 6))").as("v"))
      .withColumn("d", expr("graft_dot612(v, v)"))
    df.collect() // codegen path executes without fallback errors
    // interpreted path: direct eval outside codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val lit6 = Literal.create(new GenericArrayData(Array(0.5, -1.25)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val d = graft.vector.Dot612(lit6, lit6).eval(null)
      .asInstanceOf[org.apache.spark.sql.types.Decimal]
    assert(d.toBigDecimal === BigDecimal("1.812500000000"))
  }

  test("scaled18 lane ≡ DECIMAL(38,18) pipeline bit-for-bit (per value and summed)") {
    // rank-mass-shaped doubles plus adversarial cases: HALF_UP ties at
    // scale 18 (±5e-19), subnormal-ish tinies, values near 1, and exact
    // dyadics whose decimal expansion exceeds 18 places (2^-60)
    val xs = Seq(0.1, 1.0 / 3.0, 0.85 * 0.25 / 7.0, 1e-7, 5e-19, -5e-19,
      2.5e-19, 0.9999999999999999, 1.0, math.pow(2, -60), 0.0,
      1.23456789012345e-5, 7.0 / 11.0, -0.3333333333333333)
    val df = xs.toDF("x")
      .withColumn("viaLong", expr("graft_from_scaled18(graft_to_scaled18(x))"))
      .withColumn("viaDec", expr("cast(cast(x as decimal(38,18)) as double)"))
    // per-value: the long lane reproduces the decimal round-trip exactly
    val bad = df.filter(!(col("viaLong") <=> col("viaDec"))).collect()
    assert(bad.isEmpty, bad.mkString("\n"))
    // summed: sum(long) carries the identical unscaled integer the
    // decimal sum carries (the q_part_pagerank exchange contract)
    val sums = df.agg(
      expr("sum(graft_to_scaled18(x))").as("sL"),
      expr("sum(cast(x as decimal(38,18)))").as("sD")).head()
    val sL = sums.getLong(0)
    val sD = sums.getDecimal(1)
    assert(sD.movePointRight(18).longValueExact() === sL,
      s"decimal sum $sD != scaled-long sum $sL")
    // and the group-sum conversion back to double is the same single
    // correctly-rounded step
    val back = df.agg(
      expr("graft_from_scaled18(sum(graft_to_scaled18(x)))").as("dL"),
      expr("cast(sum(cast(x as decimal(38,18))) as double)").as("dD")).head()
    assert(java.lang.Double.doubleToLongBits(back.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(back.getDouble(1)))
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    xs.foreach { x =>
      val viaExpr = graft.vector.ToScaledN(Literal(x), 18).eval(null)
      val viaDec = new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(18, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
      assert(viaExpr === viaDec, s"x=$x")
    }
  }

  test("scaled18 overflows loudly past long capacity; pagerank mass never reaches it") {
    // |x| >= 9.223372036854775808 cannot carry at scale 18 in a long —
    // the contract is bounded mass (PageRank: every group sum <= 1); a
    // violation must throw, not wrap
    val err = intercept[Exception] {
      Seq(10.0).toDF("x").selectExpr("graft_to_scaled18(x)").collect()
    }
    assert(err.toString.toLowerCase.contains("arithmetic")
      || err.getCause != null, err.toString)
    // the in-contract extreme is fine: 1.0 == 1e18 unscaled
    val one = Seq(1.0).toDF("x").selectExpr("graft_to_scaled18(x)").head().getLong(0)
    assert(one === 1000000000000000000L)
  }

  test("graft_viterbi ≡ the interpreted HOF fold on a real vocab (incl. ties)") {
    // a small piece table with DELIBERATE cost ties so the (cost, n, seg)
    // tie-break order is exercised, not just the happy path: 'ab' and
    // 'ba' tie at 2.0; chars tie pairwise; 'abab' forces the n tie-break
    // ('ab ab' vs 'abab' at equal cost) and seg ordering decides equal-n
    // ties
    val voc = Seq(
      ("a", "1.000000"), ("b", "1.000000"), ("c", "3.500000"),
      ("ab", "2.000000"), ("ba", "2.000000"), ("abab", "4.000000"),
      ("bab", "2.500000"), ("abc", "4.500000"))
      .toDF("piece", "costs")
      .select(col("piece"), col("costs").cast("decimal(18,6)").as("cost"))
    val words = Seq("abab", "ababab", "cab", "abcba", "aaaa", "b",
      "babab", "ccc", "abcabcab", "bbbbbbbbbbbb").toDF("word")
      .withColumn("len", length(col("word")))
    val vmap = voc.agg(map_from_entries(
      collect_list(struct(col("piece"), col("cost")))).as("vmap"))
    val varr = voc.agg(array_sort(
      collect_list(struct(col("piece"), col("cost")))).as("ventries"))
    val both = words.crossJoin(vmap).crossJoin(varr)
      .withColumn("hof", expr(graft.text.TokenizerOps.sparkViterbiSt))
      .withColumn("ntv", expr("graft_viterbi(word, ventries)"))
    val bad = both.filter(!(col("hof") <=> col("ntv")))
      .select("word", "hof", "ntv").collect()
    assert(bad.isEmpty, bad.mkString("\n"))
    // and on the real sf0.001 corpus vocabulary, every distinct word
    val (wf, voc2) = graft.text.TokenizerOps.seedVocabFor(
      spark, "/root/testdata/sf0.001")
    val vmap2 = voc2.agg(map_from_entries(
      collect_list(struct(col("piece"), col("cost")))).as("vmap"))
    val varr2 = voc2.agg(array_sort(
      collect_list(struct(col("piece"), col("cost")))).as("ventries"))
    val real = wf.crossJoin(vmap2).crossJoin(varr2)
      .withColumn("hof", expr(graft.text.TokenizerOps.sparkViterbiSt))
      .withColumn("ntv", expr("graft_viterbi(word, ventries)"))
    val nbad = real.filter(!(col("hof") <=> col("ntv"))).count()
    assert(nbad === 0L)
  }

  test("scaled2 + split-4 moment lanes ≡ exact DECIMAL pipeline bit-for-bit") {
    // 2-decimal monetary shapes (the q_measure_correlations inputs):
    // column extremes plus 500 random price×quantity-ish pairs
    val rnd = new scala.util.Random(13)
    val xs = Seq((0.0, 0.0), (0.01, 0.01), (104999.91, 50.0), (0.1, 0.08),
      (949.13, 7.0), (0.05, 0.02)) ++
      (1 to 500).map { _ =>
        (math.floor(rnd.nextDouble() * 11000000) / 100.0,
          math.floor(rnd.nextDouble() * 5000) / 100.0)
      }
    val df = xs.toDF("x", "y")
    // per-value round trip: the scale-2 long lane reproduces the decimal
    // cast exactly
    val badV = df.filter(!(expr("graft_from_scaled2(graft_to_scaled2(x))")
      <=> expr("cast(cast(x as decimal(38,2)) as double)"))).collect()
    assert(badV.isEmpty, badV.mkString("\n"))
    // Σx lane: sum(long) carries the decimal sum's unscaled integer
    val s = df.agg(
      expr("sum(graft_to_scaled2(x))").as("sL"),
      expr("sum(cast(x as decimal(38,2)))").as("sD")).head()
    assert(s.getDecimal(1).movePointRight(2).longValueExact() === s.getLong(0))
    // Σxy lane: the hi/lo split sum reassembles to the same double the
    // exact DECIMAL product-sum converts to (the oracle's formulation)
    val p = df
      .select(expr("graft_to_scaled2(x)").as("x2"),
        expr("graft_to_scaled2(y)").as("y2"),
        col("x").cast("decimal(18,2)").as("xd"),
        col("y").cast("decimal(18,2)").as("yd"))
      .agg(
        expr("graft_from_scaled4_split(sum((x2 * y2) div 10000000), " +
          "sum((x2 * y2) % 10000000))").as("dL"),
        expr("cast(sum(xd * yd) as double)").as("dD")).head()
    assert(java.lang.Double.doubleToLongBits(p.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(p.getDouble(1)),
      s"split lane ${p.getDouble(0)} != decimal lane ${p.getDouble(1)}")
    // Σx² lane through the same split (squares share the product shape)
    val q = df
      .select(expr("graft_to_scaled2(x)").as("x2"),
        col("x").cast("decimal(18,2)").as("xd"))
      .agg(
        expr("graft_from_scaled4_split(sum((x2 * x2) div 10000000), " +
          "sum((x2 * x2) % 10000000))").as("dL"),
        expr("cast(sum(xd * xd) as double)").as("dD")).head()
    assert(java.lang.Double.doubleToLongBits(q.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(q.getDouble(1)))
  }

  test("correlations capacity guard fails LOUDLY past the lane budget, ANSI on and off") {
    // In-contract inputs pass and produce the normal 6-pair output
    val ok = Seq(
      (1.0, 949.13, 0.05, 0.02), (50.0, 104999.91, 0.1, 0.08),
      (7.0, 0.01, 0.0, 0.0))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows = graft.analytics.DataQuality.correlationsFrom(ok).collect()
    assert(rows.length === 6)
    assert(rows.forall(_.getLong(1) === 3L))
    // Past the budget the op must FAIL LOUDLY, never wrap: max|price|
    // here is 6e10 → scale-2 unscaled 6e12 → per-row product 3.6e25 >>
    // 9.2e18 (and n·worst-addend also blows). Two independent loud
    // paths: ANSI (ON by default in Spark 4 — the session default, so
    // the per-row multiply itself throws ARITHMETIC_OVERFLOW), and the
    // op's own max|x|-witness guard, which still fires if a deployment
    // disables ANSI (where multiply and sum(long) wrap SILENTLY).
    val big = Seq(
      (1.0, 6.0e10, 0.05, 0.02), (2.0, 6.0e10, 0.1, 0.08),
      (3.0, 5.0e10, 0.0, 0.01))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) :: msgs(t.getCause)
    val errAnsi = intercept[Exception] {
      graft.analytics.DataQuality.correlationsFrom(big).collect()
    }
    assert(msgs(errAnsi).exists(m => m.contains("past long capacity")
      || m.contains("ARITHMETIC_OVERFLOW") || m.contains("long overflow")),
      errAnsi.toString)
    // defense-in-depth leg: with ANSI off nothing else is loud — the
    // guard must be what raises
    val ansiKey = "spark.sql.ansi.enabled"
    val prevAnsi = spark.conf.get(ansiKey)
    try {
      spark.conf.set(ansiKey, "false")
      val errGuard = intercept[Exception] {
        graft.analytics.DataQuality.correlationsFrom(big).collect()
      }
      assert(msgs(errGuard).exists(_.contains("past long capacity")),
        errGuard.toString)
    } finally spark.conf.set(ansiKey, prevAnsi)
  }

  test("graft_gram_stats ≡ the sorted-run HOF fold and the explode aggregation") {
    // the interpreted fold graft_gram_stats replaced in doc_repetition_topn
    def foldStats(n: Int): String =
      s"""named_struct('tot', cast(size(graft_shingles(ws, $n)) as bigint),
        'st', aggregate(array_sort(graft_shingles(ws, $n)),
        named_struct('cur', CAST(NULL AS STRING), 'run', 0, 'best', 0, 'nruns', 0),
        (acc, x) -> named_struct(
          'cur', x,
          'run', IF(x <=> acc.cur, acc.run + 1, 1),
          'best', GREATEST(acc.best, IF(x <=> acc.cur, acc.run + 1, 1)),
          'nruns', acc.nruns + IF(x <=> acc.cur, 0, 1)),
        acc -> named_struct('best', cast(acc.best as bigint),
                            'nruns', cast(acc.nruns as bigint))))"""
    // crafted edges: shorter than n, exactly n, all-same, all-distinct,
    // tie between two top grams, repeated block
    val texts = Seq(
      "a", "a b", "a b a b a b", "x y z w", "a a a a",
      "p q p q r p q", "one two three one two three one two",
      "t", "").toDF("text")
      .withColumn("ws", split(col("text"), " "))
    for (n <- Seq(2, 3, 4, 5, 10)) {
      val both = texts
        .withColumn("fast", expr(s"graft_gram_stats(ws, $n)"))
        .withColumn("slow", expr(foldStats(n)))
      val bad = both.filter(
        !(col("fast.tot") <=> col("slow.tot")) ||
        !(col("fast.dist") <=> col("slow.st.nruns")) ||
        !(col("fast.best") <=> col("slow.st.best")))
        .collect()
      assert(bad.isEmpty, s"n=$n: ${bad.mkString("\n")}")
    }
    // and against the explode → groupBy(gram) → groupBy() aggregation the
    // doc_repetition shape replaced, on the real sf0.001 corpus (bigrams)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val viaExplode = docs
      .select(col("doc_id"), explode(expr("graft_shingles(ws, 2)")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("tot"),
        count(lit(1)).as("dist"), max("c").as("best"))
    val viaKernel = docs
      .select(col("doc_id"), expr("graft_gram_stats(ws, 2)").as("st"))
      .filter(col("st.tot") > 0)
      .select(col("doc_id"), col("st.tot").as("tot"),
        col("st.dist").as("dist"), col("st.best").as("best"))
    val nbad = viaKernel.join(viaExplode, Seq("doc_id"), "full_outer")
      .filter(!(viaKernel("tot") <=> viaExplode("tot")) ||
        !(viaKernel("dist") <=> viaExplode("dist")) ||
        !(viaKernel("best") <=> viaExplode("best"))).count()
    assert(nbad === 0L)
  }
}
