package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Retrieval operators: plan pins (chunking shuffle-free, BM25 probe
  * broadcast, two-phase top-k lossless) plus full value-level brute-force
  * replicas in plain Scala — the oracle gate checks DuckDB parity, these
  * check the MATH against an independent implementation. Runs on
  * [[ScalePath]]: the shuffle caps pin the exchange-planned plans, which
  * the sf0.001 data would otherwise not take. */
class RetrievalSpec extends AnyFunSuite with ScalePath {
  import TestSession._

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
  }

  private def broadcasts(p: SparkPlan): Int = {
    var n = 0
    def walk(x: SparkPlan): Unit = x match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: BroadcastExchangeLike => n += 1; e.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p); n
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def docRows: Array[(Long, String)] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  // ---------------------------------------------------------- doc_chunk --

  test("doc_chunk: exact window geometry and digests vs a local replica") {
    val got = SparkEntry.queries("doc_chunk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val expected = docRows.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      val n = ws.length
      (0 until n by graft.text.Retrieval.ChunkStride).map { st =>
        (id, (st / graft.text.Retrieval.ChunkStride).toLong, st.toLong,
          math.min(graft.text.Retrieval.ChunkWords, n - st).toLong,
          md5hex(ws.slice(st, st + graft.text.Retrieval.ChunkWords).mkString(" ")))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("doc_chunk: pure flatmap — no exchange except the output sort") {
    val p = finalPlan(SparkEntry.queries("doc_chunk")(spark, sfDir))
    assert(shuffleCount(p) <= 1, s"doc_chunk gained a data exchange:\n$p")
  }

  // -------------------------------------------------------- bm25_search --

  test("bm25_search: scores match an independent BM25 computed locally") {
    import graft.text.Retrieval.{bm25Queries, TopK}
    val docs = docRows.map { case (id, text) => (id, text.split(" ", -1)) }
    val nDocs = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum
    val expected = bm25Queries.flatMap { case (qid, terms) =>
      val scored = docs.flatMap { case (id, ws) =>
        val dl = ws.length
        val tf = ws.groupBy(identity).map { case (w, g) => w -> g.length }
        val contribs = terms.distinct.flatMap { t =>
          tf.get(t).map { f =>
            val df = docs.count(_._2.contains(t)).toLong
            val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1)
            val c = idf * f * (1.2 + 1) /
              (f + 1.2 * (1 - 0.75 + 0.75 * dl * nDocs / sumDl.toDouble))
            BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }
        }
        if (contribs.isEmpty) None
        else {
          val score = BigDecimal(contribs.sum.toDouble)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Some((id, score))
        }
      }
      scored.sortBy { case (id, sc) => (-sc, id) }.take(TopK)
        .zipWithIndex.map { case ((id, sc), i) => (qid, i + 1, id, sc) }
    }
    val got = SparkEntry.queries("bm25_search")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // ids and ranks exactly; scores to 1.5e-4 — the replica's double→
    // BigDecimal rounding chain differs from Spark's in the last ulp on
    // boundary values (bit-exactness vs DuckDB is the oracle gate's job)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case ((_, _, _, g), (_, _, _, e)) =>
      assert(math.abs(g - e) <= 1.5e-4, s"score drift: $g vs $e")
    }
  }

  test("bm25_search: probe side broadcasts, corpus aggregates stay bounded") {
    val p = finalPlan(SparkEntry.queries("bm25_search")(spark, sfDir))
    // query terms + per-term df + 1-row corpus stats: all three must ship
    // to the corpus, never the reverse
    assert(broadcasts(p) >= 3, s"bm25 probe side fell out of broadcast:\n$p")
    // corpus tf agg, df agg, score agg, rank window, output sort — a join
    // that shuffled the corpus for the probe would push this past the cap
    assert(shuffleCount(p) <= 6, s"bm25 corpus side gained a shuffle:\n$p")
  }

  // -------------------------------------------------------- ngram_stats --

  test("bm25_eval: metrics match a local conjunctive-relevance replica") {
    import graft.text.Retrieval.{bm25Queries, TopK}
    val docs = docRows.map { case (id, text) => (id, text.split(" ", -1).toSet) }
    // the serve path's top-k, taken from the (replica-verified) live op
    val topk = SparkEntry.queries("bm25_search")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val expected = bm25Queries.map { case (qid, terms) =>
      val ts = terms.distinct.toSet
      val rel = docs.filter { case (_, ws) => ts.subsetOf(ws) }.map(_._1).toSet
      val ranked = topk.filter(_._1 == qid).sortBy(_._2)
      val hits = ranked.count(t => rel(t._3))
      val firstRel = ranked.find(t => rel(t._3)).map(_._2)
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (qid, rel.size.toLong, hits.toLong, r4(1.0 * hits / TopK),
        if (rel.isEmpty) None else Some(r4(1.0 * hits / math.min(rel.size, TopK))),
        r4(firstRel.map(1.0 / _).getOrElse(0.0)))
    }
    val got = SparkEntry.queries("bm25_eval")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
    assert(got.toSeq === expected)
    assert(expected.exists(_._2 > 0), "no query has any relevant doc — vacuous")
    assert(expected.exists(_._3 > 0), "no hits anywhere — vacuous")
  }

  test("ngram_stats: bucketed two-phase top-k is lossless vs direct top-k") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val direct = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))"))
        .as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("gram"))))
      .filter(col("rnk") <= graft.text.Retrieval.NgramTopN)
      .select("lang", "rnk", "gram", "n")
      .orderBy("lang", "rnk").collect().toSeq
    val got = SparkEntry.queries("ngram_stats")(spark, sfDir).collect().toSeq
    assert(got === direct)
  }

  test("ngram_stats: per-lang rank partitions are (lang, bucket), not lang") {
    // the audit_value_quantiles lesson applied at authoring time: the full
    // distinct-gram set must first be cut by the 64-way hash bucket; only
    // <= 640 survivors per lang may reach the single-partition-per-lang
    // global window
    val df = SparkEntry.queries("ngram_stats")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.references.map(_.name).mkString(",")).mkString("|")
    }
    assert(windows.exists(_.contains("bucket")),
      s"bucket pre-pass window missing: $windows")
  }

  // ----------------------------------------------------- tfidf_keywords --

  test("tfidf_keywords: top-3 terms match an independent tf-idf computed locally") {
    val docs = docRows.map { case (id, text) => (id, text.split(" ", -1)) }
    val nDocs = docs.length.toLong
    val dfMap = docs.flatMap { case (_, ws) => ws.distinct }
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    val expected = docs.flatMap { case (id, ws) =>
      val tf = ws.groupBy(identity).map { case (w, g) => w -> g.length }
      tf.toSeq.map { case (t, f) =>
        val score = BigDecimal(f * math.log(1.0 * nDocs / dfMap(t)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, score)
      }.sortBy { case (t, sc) => (-sc, t) }
        .take(graft.text.Retrieval.KeywordsTopK)
        .zipWithIndex.map { case ((t, sc), i) => (id, i + 1, t, sc) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("tfidf_keywords")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case ((_, _, _, g), (_, _, _, e)) =>
      assert(math.abs(g - e) <= 1e-5, s"score drift: $g vs $e")
    }
  }

  // ------------------------------------------------------ chunk_overlap --

  test("chunk_overlap: per-doc shared-window counts match a local replica") {
    val stride = graft.text.Retrieval.ChunkStride
    val cw = graft.text.Retrieval.ChunkWords
    val dd = docRows.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (0 until ws.length by stride)
        .filter(st => ws.length - st >= cw)
        .map(st => (id, md5hex(ws.slice(st, st + cw).mkString(" "))))
        .distinct
    }
    val counts = dd.groupBy(_._2).map { case (dg, g) => dg -> g.length }
    val expected = dd.groupBy(_._1).toSeq.flatMap { case (id, chunks) =>
      val n = chunks.length.toLong
      val shared = chunks.count(c => counts(c._2) >= 2).toLong
      if (shared >= 1)
        Some((id, n, shared,
          BigDecimal(1.0 * shared / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.sortBy(_._1)
    assert(expected.nonEmpty, "fixture lost its shared windows — test is vacuous")
    val got = SparkEntry.queries("chunk_overlap")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expected)
  }

  // ---------------------------------------------------- dedup_keep_best --

  test("dedup_keep_best: kept doc is its component's quality argmax") {
    val comps = SparkEntry.queries("dedup_components")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // doc_id -> component
    val quality = SparkEntry.queries("text_quality")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("quality_score")),
        r.getLong(r.fieldIndex("n_chars"))))
      .map { case (id, sc, nc) => id -> ((sc, nc)) }.toMap
    val byComponent = comps.groupBy(_._2).filter(_._2.length >= 2)
    val got = SparkEntry.queries("dedup_keep_best")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.map(_._1).toSet === byComponent.keySet)
    for ((component, members, kept, keptScore, charsDropped) <- got) {
      val ms = byComponent(component).map(_._1)
      assert(members === ms.length.toLong)
      val best = ms.minBy(id => (-quality(id)._1, id))
      assert(kept === best, s"component $component kept $kept, expected $best")
      assert(keptScore === quality(best)._1)
      assert(charsDropped === ms.map(quality(_)._2).sum - quality(best)._2)
    }
  }

  // ------------------------------------------------------- pmi_bigrams --

  test("pmi_bigrams: counts and PMI match an independent local replica") {
    val texts = docRows.map(_._2.split(" ", -1))
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bi = texts.flatMap(ws => ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = uni.values.sum
    val nb = bi.values.sum
    val got = SparkEntry.queries("pmi_bigrams")(spark, sfDir).collect()
    val expectGrams = bi.filter(_._2 >= graft.text.Retrieval.PmiMinCount).keySet
    assert(got.map(_.getAs[String]("gram")).toSet === expectGrams)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def lg2(c: Long) = r6(math.log(c.toDouble) / math.log(2.0))
    got.foreach { r =>
      val g = r.getAs[String]("gram")
      val Array(w1, w2) = g.split(" ", 2)
      assert(r.getAs[Long]("c_pair") === bi(g))
      assert(r.getAs[Long]("c_left") === uni(w1))
      assert(r.getAs[Long]("c_right") === uni(w2))
      val pmi = (lg2(bi(g)) + lg2(n) * 2 - lg2(nb) - lg2(uni(w1)) - lg2(uni(w2))).toDouble
      // 2e-6 absorbs a possible last-ulp difference between the replica's
      // log and the engine's at a 6th-decimal rounding boundary
      assert(math.abs(r.getAs[Double]("pmi") - pmi) < 2e-6,
        s"$g pmi ${r.getAs[Double]("pmi")} != $pmi")
    }
    // association != frequency: the full PMI ordering must disagree with
    // the count ordering somewhere, or the operator adds nothing over
    // ngram_stats' frequency top-k
    val byPmi = got.sortBy(r => (-r.getAs[Double]("pmi"), r.getAs[String]("gram")))
      .map(_.getAs[String]("gram")).toSeq
    val byCount = got.sortBy(r => (-r.getAs[Long]("c_pair"), r.getAs[String]("gram")))
      .map(_.getAs[String]("gram")).toSeq
    assert(byPmi !== byCount)
  }

  test("hybrid_rrf: fusion arithmetic, list membership and ordering are exact") {
    val fused = SparkEntry.queries("hybrid_rrf")(spark, sfDir).collect()
    // 1. the sparse membership is EXACTLY bm25_search's top-k
    val sparse = SparkEntry.queries("bm25_search")(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("query_id").toLong, r.getAs[Long]("doc_id"))
        -> r.getAs[Long]("rnk")).toMap
    val fusedSparse = fused.filter(!_.isNullAt(4))
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
        -> r.getAs[Long]("sparse_rnk")).toMap
    // every fused sparse rank is the serve path's rank (the fused top-10
    // may drop a tail sparse doc, so subset — but ranks must agree)
    fusedSparse.foreach { case (k, rnk) => assert(sparse(k) === rnk) }
    // 2. per row: rrf_score == round(contrib(sparse) + contrib(dense), 6)
    def contrib(rnk: Option[Long]): BigDecimal = rnk
      .map(r => BigDecimal(1.0 / (graft.text.Retrieval.RrfC + r))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .getOrElse(BigDecimal(0))
    fused.foreach { r =>
      val s = if (r.isNullAt(4)) None else Some(r.getAs[Long]("sparse_rnk"))
      val d = if (r.isNullAt(5)) None else Some(r.getAs[Long]("dense_rnk"))
      assert(s.isDefined || d.isDefined)
      assert(BigDecimal(r.getAs[Double]("rrf_score")) === contrib(s) + contrib(d),
        s"row $r")
    }
    // 3. fused_rank is dense 1..n per query in (score desc, doc) order
    fused.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("fused_rank"))
      assert(sorted.map(_.getAs[Int]("fused_rank")).toSeq === (1 to rows.length))
      val scores = sorted.map(r =>
        (-r.getAs[Double]("rrf_score"), r.getAs[Long]("doc_id"))).toSeq
      assert(scores === scores.sorted)
    }
    // 4. the PRF anchor: every query's sparse-rank-1 doc seeds the dense
    // leg, so it must surface in BOTH lists (cos(self) = 1 → dense
    // top-k) and therefore outrank every single-list doc
    fused.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val anchor = rows.find(r => !r.isNullAt(4) && r.getAs[Long]("sparse_rnk") == 1L)
      assert(anchor.exists(r => !r.isNullAt(5)),
        s"PRF anchor missing from the dense list: ${rows.toSeq}")
      val both = rows.filter(r => !r.isNullAt(4) && !r.isNullAt(5))
        .map(_.getAs[Double]("rrf_score"))
      val single = rows.filter(r => r.isNullAt(4) || r.isNullAt(5))
        .map(_.getAs[Double]("rrf_score"))
      assert(both.nonEmpty)
      if (single.nonEmpty) assert(both.min > single.max)
    }
  }

  test("chunk_dedup: every reported digest really spans >=2 docs with identical text") {
    val rows = graft.text.Retrieval.chunkDedup.fn(spark, sfDir).collect()
    assert(rows.nonEmpty, "the near-dup corpus must share chunks")
    // local replica of the chunk digests from raw text
    val chunks = docRows.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (0 until ws.length by graft.text.Retrieval.ChunkStride).map { s0 =>
        val piece = ws.slice(s0,
          math.min(s0 + graft.text.Retrieval.ChunkWords, ws.length))
          .mkString(" ")
        (id, md5hex(piece))
      }
    }
    val byDigest = chunks.groupBy(_._2)
    rows.foreach { r =>
      val d = r.getString(0)
      val mine = byDigest(d)
      assert(r.getAs[Long]("n_chunks") === mine.length.toLong, s"$d n_chunks")
      assert(r.getAs[Long]("n_docs") === mine.map(_._1).distinct.length.toLong)
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("first_doc") === mine.map(_._1).min)
    }
    // completeness: every >=2-doc digest in the replica is reported
    val expect = byDigest.filter(_._2.map(_._1).distinct.length >= 2).keySet
    assert(rows.map(_.getString(0)).toSet === expect)
  }

  test("bm25_param_sensitivity: default config is the identity row; " +
    "knobs genuinely move the ranking") {
    val rows = graft.text.Retrieval.bm25ParamSensitivity
      .fn(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getInt(0))
    assert(rows.length === 5)
    val default = rows.head
    assert(default.getAs[Double]("k1") === 1.2 && default.getAs[Double]("b") === 0.75)
    // config 1 compared against itself must be a perfect match
    assert(default.getAs[Double]("mean_top10_jaccard") === 1.0)
    assert(default.getAs[Double]("top1_match_share") === 1.0)
    rows.foreach { r =>
      val j = r.getAs[Double]("mean_top10_jaccard")
      assert(j > 0 && j <= 1.0)
      assert(r.getAs[Long]("n_queries") === 3L)
      val t1 = r.getAs[Double]("top1_match_share")
      assert(t1 >= 0 && t1 <= 1.0)
    }
    // positive control: at least one non-default corner genuinely
    // re-ranks (otherwise the report is measuring nothing)
    assert(rows.tail.exists(_.getAs[Double]("mean_top10_jaccard") < 0.9))
  }

  test("bm25_phrase: every hit contains the exact adjacent phrase, tf replays, ranks monotone") {
    val rows = SparkEntry.queries("bm25_phrase")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val phrases = Map(1 -> "order fast", 2 -> "stream column", 3 -> "big order scan")
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    rows.foreach { r =>
      val (qid, did) = (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id"))
      val p = phrases(qid).split(" ").toSeq
      // exact adjacency replay: phrase_tf = sliding-window occurrences
      val occ = texts(did).sliding(p.length).count(_ == p)
      assert(occ > 0, s"q$qid doc $did: phrase not adjacent in text")
      assert(r.getAs[Long]("phrase_tf") === occ.toLong, s"q$qid doc $did tf")
    }
    // per query: ranks contiguous from 1, scores non-increasing in rank
    rows.groupBy(_.getAs[Int]("query_id")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to rs.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"q$qid order")
    }
    // bag-of-words is NOT enough: some doc has all words of a 2-word
    // phrase but never adjacent, and must be absent from that result
    val hit = rows.filter(_.getAs[Int]("query_id") == 1)
      .map(_.getAs[Long]("doc_id")).toSet
    val bagOnly = texts.collect { case (id, ws)
      if ws.contains("order") && ws.contains("fast")
        && !ws.sliding(2).contains(Seq("order", "fast")) => id }
    assert(bagOnly.nonEmpty, "corpus lacks a bag-only counterexample")
    assert(bagOnly.forall(!hit.contains(_)), "a bag-only doc leaked into phrase hits")
  }

  test("doc_keyphrase_rake: full RAKE replay per document, no stopword inside a phrase") {
    val rows = SparkEntry.queries("doc_keyphrase_rake")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val stop = Set("the", "a", "of")
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
      .toMap
    def rake(ws: Seq[String]): Seq[(String, Double)] = {
      // islands between stopwords
      val phrases = collection.mutable.Buffer.empty[Seq[String]]
      var cur = collection.mutable.Buffer.empty[String]
      ws.foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) { phrases += cur.toSeq; cur.clear() } }
        else cur += w
      }
      if (cur.nonEmpty) phrases += cur.toSeq
      val deg = collection.mutable.Map.empty[String, Long]
      val freq = collection.mutable.Map.empty[String, Long]
      phrases.foreach(p => p.foreach { w =>
        deg.updateWith(w)(v => Some(v.getOrElse(0L) + p.length))
        freq.updateWith(w)(v => Some(v.getOrElse(0L) + 1))
      })
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      phrases.map { p =>
        val s = p.map(w => r6(deg(w).toDouble / freq(w))).sum
        (p.mkString(" "), s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq
    }
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq === (1L to rs.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $id order")
      sorted.foreach(r =>
        assert(!r.getAs[String]("phrase").split(" ").exists(stop),
          s"doc $id: stopword inside a phrase"))
      // independent RAKE replay: published top-k = the replayed top-k
      val want = rake(texts(id))
        .sortBy { case (p, s) => (-s, p) }.take(rs.length)
      val got = sorted.map(r => (r.getAs[String]("phrase"), r.getAs[Double]("score")))
      assert(got.toSeq === want.toSeq, s"doc $id replay")
    }
  }
}
