package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps

/** Scale-shape guards for the dedup pipeline. */
class TextDedupSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("bowStarEdges is linear in group size (k-1 edges, not k²/2)") {
    // one 100-member duplicate group + one 3-member group + 5 singletons
    val rows =
      (1 to 100).map(i => (i.toLong, "g1")) ++
        (101 to 103).map(i => (i.toLong, "g2")) ++
        (104 to 108).map(i => (i.toLong, s"solo$i"))
    val bow = rows.toDF("doc_id", "fp")
    val edges = TextOps.bowStarEdges(bow)
    assert(edges.count() === 99L + 2L) // (k-1) per group, 0 per singleton
    // all edges go to the group min — the star root
    val roots = edges.select("a").distinct().as[Long].collect().sorted
    assert(roots.sameElements(Array(1L, 101L)))
  }

  test("dedup_incremental: verdicts match a direct cross-split band probe") {
    // independent band table straight off the (already spec-verified)
    // native signature expression — no shared helper with the op's plan
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), graft.text.Tokens.shingles(3).as("s3"))
      .withColumn("sigs", expr("graft_minhash_sig(s3)"))
      .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "v")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val (inc, ex) = sigs.partition(_._1 % 10 == 0)
    val exByBand = ex.groupBy(t => (t._2, t._3))
    val expected = inc.map(_._1).distinct.sorted.map { id =>
      val hits = inc.filter(_._1 == id)
        .flatMap(t => exByBand.getOrElse((t._2, t._3), Array.empty).map(_._1))
        .distinct
      (id, hits.length.toLong,
        if (hits.isEmpty) None else Some(hits.min),
        if (hits.nonEmpty) "near_dup" else "admit")
    }
    val got = TextOps.dedupIncremental.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
    assert(got.toSeq === expected.toSeq)
    assert(expected.exists(_._4 == "near_dup"), "fixture has no cross-split near-dup — vacuous")
    assert(expected.exists(_._4 == "admit"), "every incoming doc matched — vacuous")
  }

  test("dedup_containment: metrics match a plain-Scala replica of the capped sets") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def r4(n: Long, d: Long): JBD =
      JBD.valueOf(1.0 * n / d).setScale(4, RoundingMode.HALF_UP)
    val docRows = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)), r.getString(3)))
    val sh = docRows.map { case (id, blk, text) =>
      val ws = text.split(" ", -1)
      val s3 = (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
      (id, blk, s3)
    }
    // per-block document frequency over the distinct shingle sets
    val df = sh.flatMap { case (_, blk, s3) => s3.iterator.map(g => (blk, g)) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val capped = sh.map { case (id, blk, s3) =>
      (id, blk, s3.filter(g => df((blk, g)) <= text.TextOps.ShingleDfCap))
    }
    val expected = capped.groupBy(_._2).values.toSeq.flatMap { ds =>
      val sorted = ds.toSeq.sortBy(_._1)
      for {
        ia <- sorted.indices
        a = sorted(ia)
        b <- sorted.drop(ia + 1)
        common = (a._3 & b._3).size.toLong
        if common > 0
        szA = a._3.size.toLong
        szB = b._3.size.toLong
        cont = r4(common, math.min(szA, szB))
        if cont.doubleValue >= 0.02
      } yield {
        val (small, big) = if (szA <= szB) (a._1, b._1) else (b._1, a._1)
        val jacc = r4(common, szA + szB - common)
        val beyond = if (cont.doubleValue >= 0.5 && jacc.doubleValue < 0.5) 1 else 0
        (small, big, math.min(szA, szB), math.max(szA, szB), common,
          cont.doubleValue, jacc.doubleValue, beyond)
      }
    }.sortBy(t => (-t._6, t._1, t._2))
    val got = text.TextOps.dedupContainment.fn(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getInt(7)))
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no containment candidates — vacuous")
    // the asymmetry is real on this corpus: containment strictly exceeds
    // jaccard somewhere (otherwise the op measures nothing new)
    assert(got.exists(t => t._6 > t._7),
      "no pair with containment > jaccard — asymmetric readout vacuous")
  }

  test("dedup_lsh_curve: buckets match a driver-side replica; theory curve exact") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def r4(n: Long, d: Long): Double =
      JBD.valueOf(1.0 * n / d).setScale(4, RoundingMode.HALF_UP).doubleValue
    // exact df-capped candidate pairs (the dedup_containment replica)
    val docRows = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)), r.getString(3)))
    val sh = docRows.map { case (id, blk, text) =>
      val ws = text.split(" ", -1)
      val s3 = (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
      (id, blk, s3)
    }
    val df = sh.flatMap { case (_, blk, s3) => s3.iterator.map(g => (blk, g)) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val capped = sh.map { case (id, blk, s3) =>
      (id, blk, s3.filter(g => df((blk, g)) <= text.TextOps.ShingleDfCap))
    }
    val exactJacc: Map[(Long, Long), Double] =
      capped.groupBy(_._2).values.toSeq.flatMap { ds =>
        val sorted = ds.toSeq.sortBy(_._1)
        for {
          ia <- sorted.indices; a = sorted(ia); b <- sorted.drop(ia + 1)
          common = (a._3 & b._3).size.toLong if common > 0
        } yield (a._1, b._1) ->
          r4(common, a._3.size.toLong + b._3.size.toLong - common)
      }.toMap
    // band-collision pairs off the spec-verified native signature
    val sigRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), graft.text.Tokens.shingles(3).as("s3"))
      .withColumn("sigs", expr("graft_minhash_sig(s3)"))
      .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "v")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val det: Set[(Long, Long)] = sigRows.groupBy(t => (t._2, t._3)).values
      .flatMap { g =>
        val ids = g.map(_._1).distinct.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
    // bucketed counts over the union universe
    val universe = (exactJacc.keySet ++ det).toSeq
    val expected = universe
      .map { p =>
        val j = exactJacc.getOrElse(p, 0.0)
        (math.min(math.floor(j * 10).toInt, 9), if (det(p)) 1L else 0L)
      }
      .groupBy(_._1).toSeq
      .map { case (b, xs) =>
        val np = xs.length.toLong; val nd = xs.map(_._2).sum
        (r4(b, 10), np, nd, r4(nd, np),
          r4(10000L - math.pow(10 - b, 4).toLong, 10000L))
      }.sortBy(_._1)
    val got = text.TextOps.dedupLshCurve.fn(spark, sfDir).collect().toSeq
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got === expected)
    assert(got.map(_._2).sum > got.length, "near-degenerate universe — vacuous")
    // the curve measures something: some bucket is imperfectly detected
    // and some high bucket detects at a higher rate than bucket 0
    assert(got.exists(t => t._4 < 1.0))
    val byBucket = got.map(t => t._1 -> t._4).toMap
    assert(byBucket.keySet.exists(_ >= 0.5),
      "no candidate pair above jaccard 0.5 — curve right edge vacuous")
  }

  test("star edges yield the same components as the all-pairs closure") {
    // star edges (1,2),(1,3) must connect {1,2,3} exactly like pair edges
    val bow = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y")).toDF("doc_id", "fp")
    val edges = TextOps.bowStarEdges(bow).as[(Long, Long)].collect().toSet
    assert(edges === Set((1L, 2L), (1L, 3L)))
    // reachability of every member from the root = one component
    val members = edges.flatMap { case (a, b) => Set(a, b) }
    assert(members === Set(1L, 2L, 3L))
  }

  test("dedup_threshold_curve: monotone in threshold, reconciles with the pair list") {
    val rows = TextOps.dedupThresholdCurve.fn(spark, sfDir).collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    // tightening the threshold can only shrink pairs and victims
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    val dropped = rows.map(_.getAs[Long]("n_docs_dropped"))
    assert(pairs.toSeq === pairs.sortBy(-_).toSeq)
    assert(dropped.toSeq === dropped.sortBy(-_).toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs_dropped") <= r.getAs[Long]("n_pairs") ||
        r.getAs[Long]("n_pairs") === 0L)
      assert(r.getAs[Double]("drop_share") >= 0.0 &&
        r.getAs[Double]("drop_share") <= 1.0)
    }
    // reconcile one point against the pair list the detector op
    // publishes (jacc >= 0.02, top-500) — valid only when untruncated
    val dng = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
      .collect()
    if (dng.length < 500) {
      val direct = dng.count(_.getAs[Double]("jacc") >= 0.5).toLong
      assert(pairs(0) === direct)
    }
    assert(pairs(0) > 0, "near-dup corpus must produce pairs at 0.5")
  }

  test("prefix-duplicate groups land wholly inside one component (closure gained the edge class)") {
    val comp = graft.text.TextOps.dedupComponents.fn(spark, TestSession.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prefixGroups = graft.text.TextOps.dedupPrefix.fn(spark, TestSession.sfDir)
      .collect()
    assert(prefixGroups.nonEmpty, "corpus must contain prefix-dup groups")
    // recompute group membership directly and assert each group maps to
    // exactly one component label
    val byPrefix = Tables.documents(spark, TestSession.sfDir)
      .select(col("doc_id"), md5(expr("substring(text, 1, 96)")).as("ph"))
      .as[(Long, String)].collect().groupBy(_._2).filter(_._2.length > 1)
    assert(byPrefix.nonEmpty)
    byPrefix.foreach { case (ph, members) =>
      val labels = members.map(m => comp(m._1)).toSet
      assert(labels.size === 1,
        s"prefix group $ph spans components $labels")
    }
    // positive control: at least one prefix group is NOT an exact-dup
    // group (n_full_variants > 1) — the closure genuinely gained edges
    assert(prefixGroups.exists(_.getAs[Long]("n_full_variants") > 1L),
      "every prefix group was already an exact-dup group — edge class vacuous")
  }

  test("dedup_minhash: every doc gets a row; sub-3-word docs match nothing") {
    // random texts, exact-dup clusters, one-word-edited near dups, and
    // several docs under 3 words (one empty) — the all-NULL signature
    // class, itself duplicated, shuffled across the id range
    val rnd = new scala.util.Random(11)
    val vocab = Seq("red", "green", "blue", "cyan", "pink", "gray", "gold", "teal")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = Seq.fill(24)(words(5 + rnd.nextInt(12)))
    val texts = base ++ base.take(5) ++ base.take(2) ++ Seq.fill(3)(base(7)) ++
      base.slice(10, 18).map(t => ("mauve" +: t.split(" ").tail).mkString(" ")) ++
      Seq("", "red", "red blue", "red blue", "gold teal") ++
      Seq.fill(13)(words(3 + rnd.nextInt(6)))
    val dir = java.nio.file.Files.createTempDirectory("graft-minhash").toString
    rnd.shuffle(texts).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent per-doc band count straight off the native signature
    // expression — no shared helper with the op's plan
    val sigs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), graft.text.Tokens.shingles(3).as("s3"))
      .select(col("doc_id"), expr("graft_minhash_sig(s3)").as("sigs"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Seq.fill(4)(None) else r.getSeq[Long](1).map(Some(_))))
      .toMap
    val expected = sigs.toSeq.sortBy(_._1).map { case (id, sv) =>
      val n = sigs.count { case (o, ov) =>
        o != id && sv.zip(ov).exists { case (a, b) => a.isDefined && a == b }
      }
      (id, sv, n.toLong)
    }
    val got = TextOps.dedupMinhash.fn(spark, dir).collect().toSeq.map(r =>
      (r.getLong(0), (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))),
        r.getLong(5)))
    assert(got.length === texts.length, "dedup_minhash dropped documents")
    assert(got === expected)
    val nulls = expected.filter(_._2.head.isEmpty)
    assert(nulls.length === 5 && nulls.forall(_._3 == 0L), "fixture lost its short docs")
    assert(expected.exists(_._3 >= 3), "fixture has no duplicate cluster — vacuous")
    spark.catalog.clearCache()
  }

  test("dedup_minhash_est: signature-collapsed output equals the naive pair join exactly") {
    // the naive doc-level formulation the oracle runs, replicated in
    // Spark — the collapse must be invisible (same rows, same values)
    val got = TextOps.dedupMinhashEst.fn(spark, TestSession.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val docs = Tables.documents(spark, TestSession.sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr("graft_shingles(ws, 3)").as("s3"))
      .withColumn("__sigs", expr("graft_minhash_sig(s3)"))
      .select(col("doc_id"), array_distinct(col("s3")).as("s3d"),
        element_at(col("__sigs"), 1).as("sig1"), element_at(col("__sigs"), 2).as("sig2"),
        element_at(col("__sigs"), 3).as("sig3"), element_at(col("__sigs"), 4).as("sig4"))
    val bands = docs.select(col("doc_id"), posexplode(
      array(col("sig1"), col("sig2"), col("sig3"), col("sig4"))).as(Seq("band", "v")))
    val pairs = bands.select(col("doc_id").as("doc_a"), col("band"), col("v"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("v")), Seq("band", "v"))
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b").distinct()
    def side(t: String) = docs.select(col("doc_id").as(s"doc_$t"),
      col("s3d").as(s"s3d_$t"), col("sig1").as(s"sig1_$t"), col("sig2").as(s"sig2_$t"),
      col("sig3").as(s"sig3_$t"), col("sig4").as(s"sig4_$t"))
    val nm = (1 to 4).map(i => when(col(s"sig${i}_a") === col(s"sig${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val naive = pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .withColumn("n_sig_match", nm)
      .withColumn("common", size(array_intersect(col("s3d_a"), col("s3d_b"))))
      .withColumn("za", size(col("s3d_a"))).withColumn("zb", size(col("s3d_b")))
      .select(col("doc_a"), col("doc_b"), col("n_sig_match"),
        round(col("n_sig_match") / 4.0, 4).as("est_jacc"),
        round(lit(1.0) * col("common") / (col("za") + col("zb") - col("common")), 4)
          .as("exact_jacc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === naive.keySet, "pair sets differ")
    got.foreach { case (p, (n, e, x, err)) =>
      val (nn, ne, nx) = naive(p)
      assert(n === nn && e === ne && x === nx, s"pair $p: got ($n,$e,$x) naive ($nn,$ne,$nx)")
      assert(err === math.rint(math.abs(e - x) * 10000) / 10000 ||
        math.abs(err - math.abs(e - x)) < 1e-9, s"abs_err mismatch at $p")
    }
    // the collapse must actually collapse: this corpus has duplicated
    // texts, so distinct shingle-set groups < docs with candidates
    assert(got.nonEmpty)
  }

  test("dedup_minhash_calib summaries reconcile exactly against the est pair list") {
    // the bounded calibration op must be a pure reduction of
    // dedup_minhash_est's (output-sized) contract: per-bucket counts and
    // 4dp integer sums recomputed from the full pair list, no drift
    val est = TextOps.dedupMinhashEst.fn(spark, TestSession.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(4), r.getDouble(5)))
    val calib = TextOps.dedupMinhashCalib.fn(spark, TestSession.sfDir).collect()
    val summaries = calib.filter(_.getString(1) == "summary")
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val expected = est.groupBy(_._3.toLong).map { case (b, ps) =>
      b -> (ps.length.toLong,
        ps.map(p => math.rint(p._4 * 10000).toLong).sum,
        ps.map(p => math.rint(p._5 * 10000).toLong).sum)
    }
    assert(summaries === expected, "bucket summaries != est reduction")
    // exhibits are real est pairs in their bucket, ranked 1..5, and both
    // endpoints are group representatives (appear as a min id somewhere)
    val estSet = est.map(p => (p._1, p._2, p._3.toLong, p._4)).toSet
    val exhibits = calib.filter(_.getString(1) == "exhibit")
    assert(exhibits.nonEmpty)
    exhibits.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 5)
      assert(estSet.contains((r.getLong(6), r.getLong(7), r.getLong(0),
        r.getDouble(8))), s"exhibit not in est list: $r")
    }
    // bounded contract: at most (1 + 5) rows per occupied bucket
    assert(calib.length <= summaries.size * 6)
  }

  test("dedup_cluster_stats is exactly the dedup_components size histogram") {
    val comp = graft.text.TextOps.dedupComponents.fn(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val stats = graft.text.TextOps.dedupClusterStats.fn(spark, TestSession.sfDir)
      .collect()
    val sizes = comp.groupBy(_._2).toSeq.map { case (c, ms) => (c, ms.length.toLong) }
    val hist = sizes.groupBy(_._2).map { case (sz, cs) =>
      sz -> (cs.length.toLong, cs.map(_._1).min)
    }
    assert(stats.length === hist.size)
    stats.foreach { r =>
      val (nClusters, exampleRoot) = hist(r.getLong(0))
      assert(r.getLong(1) === nClusters, s"size ${r.getLong(0)} clusters")
      assert(r.getLong(2) === r.getLong(0) * nClusters, "n_docs identity")
      assert(r.getLong(3) === (r.getLong(0) - 1) * nClusters, "n_dropped identity")
      assert(r.getLong(4) === exampleRoot, s"size ${r.getLong(0)} example")
    }
    // conservation: histogram covers every document exactly once
    assert(stats.map(_.getLong(2)).sum === comp.length.toLong)
  }

  test("dedup_source_matrix: pair mass reconciles with dedup_bow's groups") {
    val sf = "/root/testdata/sf0.001"
    val matrix = graft.text.TextOps.dedupSourceMatrix.fn(spark, sf).collect()
    val bow = graft.text.TextOps.dedupBow.fn(spark, sf).collect()
    // every bow group of n docs contributes n(n-1)/2 pairs, split across
    // the matrix's diagonal + off-diagonal cells — totals must agree
    val expPairs = bow.map(r => { val n = r.getAs[Long]("n_docs"); n * (n - 1) / 2 }).sum
    assert(matrix.map(_.getAs[Long]("n_pairs")).sum === expPairs)
    matrix.foreach { r =>
      assert(r.getAs[Long]("n_pairs") > 0)
      assert(r.getString(0) <= r.getString(1), "upper-triangular + diagonal only")
    }
    // positive control: this corpus has real cross-source duplication
    assert(matrix.exists(r => r.getString(0) != r.getString(1)))
  }

  test("dedup_token_inflation: dup accounting reconciles with the component labels") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.text.TextOps.dedupTokenInflation.fn(spark, sf).collect()
    val comp = graft.text.TextOps.dedupComponents.fn(spark, sf).collect()
    val expDups = comp.count(r => r.getLong(0) != r.getAs[Long]("component"))
    assert(rows.map(_.getAs[Long]("n_dup_docs")).sum === expDups.toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === comp.length.toLong)
    val corpusTok = rows.map(_.getAs[Long]("total_tokens")).sum
    val corpusDup = rows.map(_.getAs[Long]("dup_tokens")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("total_tokens"))
      assert(math.abs(r.getAs[Double]("inflation")
        - r.getAs[Long]("dup_tokens").toDouble / r.getAs[Long]("total_tokens")) < 1e-3)
      assert(math.abs(r.getAs[Double]("corpus_inflation")
        - corpusDup.toDouble / corpusTok) < 1e-3)
    }
    // positive control: the dup bill is real money on this corpus
    assert(corpusDup > 0)
  }

  test("dedup_soft_weight: mass conserved, weights are 1/k, reconciles with cluster_stats") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("dedup_soft_weight")(spark, sf).collect()
    // doc and token mass partition the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    val tok = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("n")).agg(sum("n")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("tokens_raw")).sum === tok)
    rows.foreach { r =>
      val sz = r.getAs[Long]("cluster_size")
      // soft weighting IS 1/k: share·k ≈ 1 (rounding slack only)
      assert(math.abs(r.getAs[Double]("soft_share") * sz - 1.0) < 2e-3,
        s"size $sz soft share")
      assert(r.getAs[Long]("tokens_keep") <= r.getAs[Long]("tokens_raw"))
      assert(r.getAs[Long]("tokens_keep") > 0, s"size $sz kept nothing")
      // micro-token arithmetic: soft tokens never exceed raw tokens
      assert(r.getAs[Long]("tokens_soft_micro") <=
        r.getAs[Long]("tokens_raw") * 1000000L)
      if (sz == 1L) {
        assert(r.getAs[Double]("soft_share") === 1.0)
        assert(r.getAs[Double]("keep_share") === 1.0)
      }
    }
    // same closure as the cluster report: per-size cluster counts match
    val stats = SparkEntry.queries("dedup_cluster_stats")(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_clusters") ===
        stats(r.getAs[Long]("cluster_size")), s"size ${r.getLong(0)} drift")
    }
  }

  test("dedup_onion: stages partition the corpus, precedence replayed, increments reconcile with the single-family detectors") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("dedup_onion")(spark, sf).collect()
    val byStage = rows.map(r => r.getAs[String]("stage") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    // the report partitions the corpus (docs and tokens)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    val tok = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("n")).agg(sum("n")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === tok)
    assert(math.abs(rows.map(_.getAs[Double]("doc_share")).sum - 1.0) < 5e-4)
    // precedence replay from raw text: exact -> prefix -> bow families
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def dupsUnder(key: String => String): Set[Long] = {
      val groups = texts.groupBy { case (_, t) => key(t) }
      groups.values.flatMap { g =>
        val keep = g.map(_._1).min; g.map(_._1).filterNot(_ == keep)
      }.toSet
    }
    val de = dupsUnder(identity)
    val dp = dupsUnder(_.take(96))
    val db = dupsUnder(_.split(" ").distinct.sorted.mkString(" "))
    assert(byStage.getOrElse("exact", (0L, 0L))._1 === de.size.toLong)
    assert(byStage.getOrElse("prefix", (0L, 0L))._1 === (dp -- de).size.toLong)
    assert(byStage.getOrElse("bow", (0L, 0L))._1 === (db -- dp -- de).size.toLong)
    // the onion is a sizing tool: most of the corpus survives, and at
    // least one dedup stage has real incremental yield
    assert(byStage("kept")._1 > nDocs / 2)
    assert(rows.filter(_.getAs[String]("stage") != "kept")
      .map(_.getAs[Long]("n_docs")).sum > 0)
  }

  test("dedup_cdc: chunks partition every document; twins are fully duplicated") {
    val sf = "/root/testdata/sf0.001"
    val out = TextOps.dedupCdc.fn(spark, sf).cache()
    try {
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), size(split(col("text"), " ")).as("nw"),
          col("text"))
      // chunking is a partition of the word stream: per-doc chunk word
      // counts must sum back to the document's word count, for every doc
      assert(out.count() === docs.count())
      assert(out.join(docs, Seq("doc_id"))
        .filter(col("words_total") =!= col("nw")).count() === 0,
        "chunk word counts do not reassemble the documents")
      // dup accounting is internally consistent
      assert(out.filter(col("n_dup_chunks") > col("n_chunks") ||
        col("words_in_dup") > col("words_total")).count() === 0)
      // every document whose TEXT has a corpus twin must be 100%
      // dup-chunked (its every chunk occurs at least twice), and two
      // docs with identical text must publish identical stats —
      // replication-invariance of the collapsed plan, observed output-side
      val twins = docs.groupBy("text")
        .agg(count(lit(1)).as("m"), collect_list("doc_id").as("ids"))
        .filter(col("m") >= 2)
      val twinStats = twins.select(explode(col("ids")).as("doc_id"), col("text"))
        .join(out, Seq("doc_id"))
      assert(twinStats.filter(col("dup_chunk_ratio") =!= 1.0).count() === 0,
        "a twin document has a chunk the corpus saw only once")
      assert(twinStats.groupBy("text")
        .agg(countDistinct("n_chunks", "words_total", "n_dup_chunks").as("v"))
        .filter(col("v") =!= 1).count() === 0,
        "identical texts published different chunk stats")
    } finally out.unpersist()
  }

  test("doc_template_detect: skeleton grouping finds number-only variants") {
    // 3 docs sharing one skeleton (digits differ), 2 exact twins of a
    // second skeleton, 1 singleton — top template must be the 3-variant
    // group with n_texts = 3, the twin group has n_texts = 1
    val df = Seq(
      (1L, "price is 10 dollars for order 111"),
      (2L, "price is 25 dollars for order 94"),
      (3L, "price is 7 dollars for order 120005"),
      (4L, "hello world"),
      (5L, "hello world"),
      (6L, "something else entirely")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tdd_docs")
    val t = df.select(col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "#").as("tpl"))
      .groupBy("tpl").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t("price is # dollars for order #") === 3L)
    assert(t("hello world") === 2L)
    // and the published op on the real corpus: rnk is dense from 1, doc
    // counts are non-increasing, and a template never has more distinct
    // raw texts than documents
    val out = TextOps.docTemplateDetect.fn(spark, "/root/testdata/sf0.001")
      .cache()
    try {
      val rows = out.collect()
      assert(rows.map(_.getAs[Long]("rnk")).toSeq === (1L to rows.length))
      val counts = rows.map(_.getAs[Long]("n_docs")).toSeq
      assert(counts === counts.sortBy(-_))
      assert(rows.forall(r =>
        r.getAs[Long]("n_texts") <= r.getAs[Long]("n_docs")))
      assert(rows.forall(r =>
        r.getAs[String]("template_id").matches("[0-9a-f]{16}")))
    } finally out.unpersist()
  }
}
