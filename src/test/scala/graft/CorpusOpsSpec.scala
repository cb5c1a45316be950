package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.audit.AuditQueries
import graft.text.CorpusOps

/** Semantics + scale-shape guards for the corpus-curation operators. */
class CorpusOpsSpec extends AnyFunSuite {
  import TestSession._

  private val sf = "/root/testdata/sf0.001"

  test("doc_repetition: ratios are exact counts over bigram multiset") {
    val r = CorpusOps.docRepetition.fn(spark, sf)
      .filter(col("doc_id") === 0).collect()
    assert(r.length === 1)
    val row = r.head
    val n = row.getAs[Long]("n_bigrams")
    val d = row.getAs[Long]("n_distinct_bigrams")
    val m = row.getAs[Long]("max_freq")
    assert(n >= d && m >= 1 && m <= n - d + 1)
    assert(row.getAs[Double]("dup_bigram_ratio") ===
      BigDecimal(1.0 * (n - d) / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("quality_filter: every rule fires somewhere and verdict is the conjunction") {
    val q = CorpusOps.qualityFilter.fn(spark, sf).cache()
    try {
      for (rule <- Seq("r_too_short", "r_repetitive", "r_word_len", "r_no_stopword"))
        assert(q.filter(col(rule) === 1).limit(1).count() === 1, s"$rule never fires")
      assert(q.filter(col("passed") === 1 && col("n_failed") > 0).count() === 0)
      assert(q.filter(col("passed") === 1).limit(1).count() === 1, "nothing passes")
    } finally q.unpersist()
  }

  test("decontaminate: benchmark docs never flag themselves; hits share a real 4-gram") {
    val hits = CorpusOps.decontaminate.fn(spark, sf)
    assert(hits.filter(col("doc_id") % 29 === 0).count() === 0)
    assert(hits.filter(col("n_hit_shingles") < 1 || col("n_bench_docs") < 1).count() === 0)
  }

  test("decontaminate: benchmark side is broadcast (corpus never shuffles for the probe)") {
    val df = CorpusOps.decontaminate.fn(spark, sf)
    df.collect() // force execution so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BroadcastExchange"),
      s"expected the benchmark shingle set on a BroadcastExchange:\n$plan")
  }

  test("corpus_mix: every stratum contributes exactly ceil(sqrt(n)) docs") {
    val m = CorpusOps.corpusMix.fn(spark, sf)
    val bad = m.groupBy("lang", "source", "n_docs", "n_take")
      .agg(count(lit(1)).as("got"), max("rk").as("max_rk"))
      .filter(col("got") =!= col("n_take") || col("max_rk") =!= col("n_take") ||
        col("n_take") =!= ceil(sqrt(col("n_docs"))).cast("long"))
    assert(bad.count() === 0)
  }

  test("text_entropy: Shannon entropy matches a local replica; bounds hold") {
    val docsArr = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val expected = docsArr.map { case (id, ws) =>
      val n = ws.length
      val tf = ws.groupBy(identity).map(_._2.length)
      val h = tf.map { c =>
        BigDecimal(-(1.0 * c / n) * math.log(1.0 * c / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (id, n.toLong, tf.size.toLong, h.toDouble)
    }.sortBy(_._1)
    val got = graft.text.TextOps.textEntropy.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case ((gi, gn, gd, gh), (ei, en, ed, eh)) =>
      assert((gi, gn, gd) === ((ei, en, ed)))
      assert(math.abs(gh - eh) <= 1e-5, s"doc $gi entropy drift: $gh vs $eh")
      // 0 (one repeated word) <= H <= ln(n_words) (all words distinct);
      // each term carries up to 5e-7 of round-to-6-decimals error, so the
      // bound gets n_distinct * 5e-7 of slack
      assert(gh >= 0.0 && gh <= math.log(gn.toDouble) + 5e-7 * gd + 1e-9)
    }
  }

  test("corpus_temperature: shares sum to 1 and flattening is monotone") {
    val rows = CorpusOps.corpusTemperature.fn(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("nat_share"),
        r.getAs[Double]("temp_share"), r.getAs[Double]("boost")))
    assert(rows.length >= 3)
    assert(math.abs(rows.map(_._2).sum - 1.0) <= 1e-4)
    assert(math.abs(rows.map(_._3).sum - 1.0) <= 1e-4)
    rows.foreach { case (lang, nat, temp, boost) =>
      assert(math.abs(boost - temp / nat) <= 1e-3, s"$lang boost != temp/nat")
    }
    // temperature flattening: boost is strictly decreasing in corpus share
    // (low-resource up, high-resource down), and the scaled distribution is
    // strictly closer to uniform than the natural one
    val byShare = rows.sortBy(_._2)
    byShare.sliding(2).foreach {
      case Array((_, n1, _, b1), (_, n2, _, b2)) if n1 < n2 => assert(b1 > b2)
      case _ =>
    }
    val spreadNat = byShare.last._2 - byShare.head._2
    val spreadTemp = rows.map(_._3).max - rows.map(_._3).min
    assert(spreadTemp < spreadNat)
  }

  test("pack_sequences: the tape is contiguous and chunk bounds are exact") {
    import org.apache.spark.sql.expressions.Window
    val p = CorpusOps.packSequences.fn(spark, sf)
    val w = Window.partitionBy("source").orderBy("doc_id")
    val gaps = p.withColumn("prev_end", lag(col("start_off") + col("n_tok"), 1, 0).over(w))
      .filter(col("start_off") =!= col("prev_end"))
    assert(gaps.count() === 0, "tape has a gap or overlap")
    val badChunk = p.filter(
      col("chunk_first") =!= floor(col("start_off") / 512) ||
      col("chunk_last") =!= floor((col("start_off") + col("n_tok") - 1) / 512) ||
      (col("straddles") === 1) =!= (col("chunk_first") =!= col("chunk_last")))
    assert(badChunk.count() === 0)
    // some docs straddle and some don't — the readout is non-degenerate
    assert(p.filter(col("straddles") === 1).limit(1).count() === 1)
    assert(p.filter(col("straddles") === 0).limit(1).count() === 1)
  }

  test("audit_compact: merge(compact(old), new) == full recompute, including last_op") {
    val compacted = AuditQueries.auditCompact.fn(spark, sf)
    // independent full-history recompute via the audit_current operator
    val full = AuditQueries.auditCurrent.fn(spark, sf)
      .select(col("entity_id"), col("last_audit_id"), col("last_changed_at"),
        col("state_k"), col("state_val"))
    val merged = compacted
      .select(col("entity_id"), col("last_audit_id"), col("last_changed_at"),
        col("state_k"), col("state_val"))
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
    // compaction preserves the terminal operation of each entity's history
    assert(compacted.filter(!col("last_op").isin("I", "U", "D", "T")).count() === 0)
  }

  test("corpus_perplexity: cross-entropy dominates each doc's own entropy (Gibbs)") {
    val ppl = CorpusOps.corpusPerplexity.fn(spark, sf)
      .select(col("doc_id"), col("xent"), col("ppl"))
    val ent = graft.text.TextOps.textEntropy.fn(spark, sf)
      .select(col("doc_id"), col("entropy"))
    // H(doc) <= CE(doc, corpus-model) for every doc — equality only if the
    // doc IS the corpus distribution; tolerance covers the two roundings
    val bad = ppl.join(ent, Seq("doc_id"))
      .filter(col("xent") < col("entropy") - 0.001)
    assert(bad.count() === 0)
    // ppl is 2^xent, computed from the already-rounded xent
    val drift = ppl.withColumn("expect", round(pow(lit(2), col("xent")), 2))
      .filter(abs(col("ppl") - col("expect")) > 1e-9)
    assert(drift.count() === 0)
  }

  test("LM term-id guard: Hash128.key128 is injective on the corpus term and bigram vocab") {
    // corpus_perplexity / corpus_bigram_ppl / corpus_kn_ppl shuffle
    // 128-bit Hash128 ids instead of raw term/gram strings; a collision
    // inside either vocabulary would silently merge two model rows. The
    // cross-engine hash gate catches this at every tested SF (the DuckDB
    // twin keys on the raw strings); this guard pins it directly on the
    // largest local corpus. The 128-bit fold's pair bound is ~2^-128 —
    // structurally safe past 1e9 keys, where the round-10 64-bit fold's
    // birthday bound reached ~3%.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val terms = Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("t")).distinct()
      assert(terms.count() ===
        terms.select(graft.Hash128.key128(col("t"))).distinct().count(),
        s"term collision in $dir")
      val grams = Tables.documents(spark, dir)
        .select(split(col("text"), " ").as("ws"))
        .select(explode(expr("graft_shingles(ws, 2)")).as("g")).distinct()
      assert(grams.count() ===
        grams.select(graft.Hash128.key128(col("g"))).distinct().count(),
        s"gram collision in $dir")
      // the distinct-text collapse keys whole documents on key128(text)
      val texts = Tables.documents(spark, dir).select("text").distinct()
      assert(texts.count() ===
        texts.select(graft.Hash128.key128(col("text"))).distinct().count(),
        s"text collision in $dir")
      // the two lanes must actually be independent hashes — equal lanes
      // would quietly degrade the fold back to 64 bits
      val lanes = texts.select(graft.Hash128.key128(col("text")).as("k"))
        .filter(col("k.h1") === col("k.h2"))
      assert(lanes.count() === 0, s"key128 lanes collapsed in $dir")

      // --- remaining 128-bit key families, enumerated explicitly -------
      // CDC chunk keys (dedup_cdc): rebuild the op's own chunk-text
      // universe (content-defined boundaries over distinct texts) and pin
      // key128 injectivity on exactly the strings the op keys on
      val wnd = org.apache.spark.sql.expressions.Window
        .partitionBy("tkey").orderBy("i")
      val cum = org.apache.spark.sql.expressions.Window
        .partitionBy("tkey").orderBy("i")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ctexts = texts
        .select(graft.Hash128.key128(col("text")).as("tkey"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
        .select(col("tkey"), (col("p0") + 1).as("i"), col("word"))
        .withColumn("w2", lag("word", 2).over(wnd))
        .withColumn("w1", lag("word", 1).over(wnd))
        .withColumn("bnd", when(col("i") >= 3 &&
          expr(s"${graft.text.TextOps.sparkWordHash("concat(w2, ' ', w1, ' ', word)")} % 16")
            === 0, 1).otherwise(0))
        .withColumn("chunk_id", coalesce(sum("bnd").over(cum), lit(0)))
        .groupBy("tkey", "chunk_id")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(i, word))), x -> x.word), ' ')")
          .as("ctext"))
        .select("ctext").distinct()
      assert(ctexts.count() ===
        ctexts.select(graft.Hash128.key128(col("ctext"))).distinct().count(),
        s"CDC chunk-key collision in $dir")
      // span keys (span_dedup family): 40-char character spans ride as
      // full 32-hex md5 folds — same 128-bit contract, pinned on the
      // actual span universe
      val spans = Tables.documents(spark, dir)
        .filter(col("n_chars") >= 40)
        .select(explode(expr(
          "transform(sequence(1, n_chars - 39), i -> substring(text, i, 40))"))
          .as("span")).distinct()
      assert(spans.count() ===
        spans.select(md5(col("span"))).distinct().count(),
        s"span md5 collision in $dir")
    }
  }

  test("boilerplate_ngrams: gram accounting is exact and the thresholds discriminate") {
    val b = CorpusOps.boilerplateNgrams.fn(spark, sf).cache()
    try {
      assert(b.filter(col("n_boiler") > col("n_grams") ||
        col("boiler_ratio") < 0 || col("boiler_ratio") > 1).count() === 0)
      // n_grams is each doc's DISTINCT bigram count, recomputed directly
      val direct = Tables.documents(spark, sf)
        .select(col("doc_id"),
          expr("size(array_distinct(transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
            "(w, i) -> concat(w, ' ', element_at(split(text, ' '), i + 2)))))").as("expect"))
      val drift = b.join(direct, Seq("doc_id"))
        .filter(col("n_grams") =!= col("expect"))
      assert(drift.count() === 0)
      // the 10%/3-doc thresholds fire on this corpus but don't flag the
      // bulk of any doc's text — boilerplate is the minority share
      val tot = b.agg(sum("n_boiler").cast("long").as("nb"),
        sum("n_grams").cast("long").as("ng"), max("boiler_ratio").as("mx"))
        .collect().head
      assert(tot.getAs[Long]("nb") > 0, "thresholds never fire")
      assert(tot.getAs[Long]("nb") < tot.getAs[Long]("ng") / 2,
        "flagged mass should be the minority of gram mass")
    } finally b.unpersist()
  }

  test("vocab_growth: full 10-decile curve with exact type/token accounting") {
    val g = CorpusOps.vocabGrowth.fn(spark, sf).collect()
    // every decile appears even when it taught no new types (left-join
    // semantics — the flat tail is the curve's whole point)
    assert(g.map(_.getAs[Long]("decile")).toSeq === (0L to 9L))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val totalTypes = docs.select(explode(col("ws")).as("t"))
      .agg(countDistinct("t")).collect().head.getLong(0)
    val totalTokens = docs.agg(sum(size(col("ws")))).collect().head.getLong(0)
    assert(g.map(_.getAs[Long]("new_types")).sum === totalTypes)
    assert(g.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    // cumulative is the running sum of per-decile counts, ending at 100%
    val runningSum = g.map(_.getAs[Long]("new_types")).scanLeft(0L)(_ + _).drop(1)
    assert(g.map(_.getAs[Long]("cum_types")).toSeq === runningSum.toSeq)
    assert(g.last.getAs[Double]("vocab_share") === 1.0)
  }

  test("oov_rate: exact per-language accounting vs a driver-side recompute") {
    val bucketSql =
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"),
        expr(bucketSql).as("bucket"))
      .collect()
    val train = rows.filter(_.getAs[Long]("bucket") < 90)
      .flatMap(_.getAs[collection.Seq[String]]("ws")).toSet
    val expect = rows
      .filter { r => val b = r.getAs[Long]("bucket"); b >= 90 && b < 95 }
      .groupBy(_.getAs[String]("lang"))
      .map { case (lang, rs) =>
        val toks = rs.flatMap(_.getAs[collection.Seq[String]]("ws"))
        val types = toks.toSet
        lang -> (toks.length.toLong, toks.count(t => !train(t)).toLong,
          types.size.toLong, types.count(t => !train(t)).toLong)
      }
    val got = CorpusOps.oovRate.fn(spark, sf).collect()
    assert(got.map(_.getAs[String]("lang")).toSet === expect.keySet)
    got.foreach { r =>
      val (nt, no, nty, noty) = expect(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_val_tokens") === nt)
      assert(r.getAs[Long]("n_oov_tokens") === no)
      assert(r.getAs[Long]("n_val_types") === nty)
      assert(r.getAs[Long]("n_oov_types") === noty)
    }
  }

  test("oov_rate: the oov branch fires on a crafted val-only term") {
    // the synthetic corpus's 31-term vocabulary is always fully covered by
    // train, so build a tiny feed where one val-bucket doc carries a term
    // no train doc has — the audit must count it in both rates
    val ids = spark.range(0, 200).toDF("doc_id")
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
    val valId = ids.filter(col("bucket") >= 90 && col("bucket") < 95)
      .agg(min("doc_id")).collect().head.getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-oov").toString
    import spark.implicits._
    (0L until 200L).map { i =>
      val text = if (i == valId) "alpha beta zzquux" else "alpha beta gamma"
      (i, "en", text)
    }.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = CorpusOps.oovRate.fn(spark, dir).collect()
    assert(r.length === 1 && r.head.getAs[String]("lang") === "en")
    assert(r.head.getAs[Long]("n_oov_tokens") === 1L)
    assert(r.head.getAs[Long]("n_oov_types") === 1L)
    assert(r.head.getAs[Double]("oov_type_rate") > 0.0)
  }

  test("zipf_fit: regression matches a driver-side least-squares replica") {
    val counts = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("term"), r.getAs[Long]("c")))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def lg2(v: Long) = r6(math.log(v.toDouble) / math.log(2.0))
    val got = CorpusOps.zipfFit.fn(spark, sf).collect()
    assert(got.map(_.getAs[String]("lang")).toSeq ===
      counts.map(_._1).distinct.sorted.toSeq)
    got.foreach { row =>
      val lang = row.getAs[String]("lang")
      val ranked = counts.filter(_._1 == lang)
        .sortBy { case (_, t, c) => (-c, t) }
        .take(graft.text.CorpusOps.ZipfTopK)
        .zipWithIndex
        .map { case ((_, _, c), i) => (lg2(i + 1L), lg2(c)) }
      val n = ranked.length.toDouble
      assert(row.getAs[Long]("n_terms") === ranked.length.toLong)
      def s6(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val sx = ranked.map(_._1).sum.toDouble
      val sy = ranked.map(_._2).sum.toDouble
      val sxy = ranked.map { case (x, y) => s6(x * y) }.sum.toDouble
      val sxx = ranked.map { case (x, _) => s6(x * x) }.sum.toDouble
      val syy = ranked.map { case (_, y) => s6(y * y) }.sum.toDouble
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val slope = num / den
      assert(math.abs(row.getAs[Double]("slope") - slope) < 1e-3)
      assert(math.abs(row.getAs[Double]("intercept") - (sy - slope * sx) / n) < 1e-3)
      assert(math.abs(row.getAs[Double]("r2") -
        num * num / (den * (n * syy - sy * sy))) < 1e-3)
      // a rank-frequency fit on real counts must slope downward; r² is a
      // valid share (the near-uniform synthetic corpus sits around 0.09 —
      // exactly the "not Zipfian" readout the operator exists to surface)
      assert(row.getAs[Double]("slope") < 0.0)
      assert(row.getAs[Double]("r2") > 0.0 && row.getAs[Double]("r2") <= 1.0)
    }
  }

  test("corpus_report: volumes, dup membership and pass counts match replicas") {
    val rep = CorpusOps.corpusReport.fn(spark, sf).collect()
    val rows = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    // group accounting from a driver-side replica
    def digest(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dupDigests = rows.groupBy(r => digest(r._4)).filter(_._2.length > 1).keySet
    val byGroup = rows.groupBy(r => (r._2, r._3))
    assert(rep.length === byGroup.size)
    val totalTokens = rows.map(_._4.split(" ", -1).length.toLong).sum
    rep.foreach { r =>
      val g = byGroup((r.getAs[String]("lang"), r.getAs[String]("source")))
      assert(r.getAs[Long]("n_docs") === g.length.toLong)
      val toks = g.map(_._4.split(" ", -1).length.toLong).sum
      assert(r.getAs[Long]("n_tokens") === toks)
      assert(r.getAs[Long]("n_types") ===
        g.flatMap(_._4.split(" ", -1)).distinct.length.toLong)
      val nDup = g.count(row => dupDigests(digest(row._4)))
      assert(r.getAs[Double]("dup_share") ===
        BigDecimal(1.0 * nDup / g.length).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(math.abs(r.getAs[Double]("token_share") - 1.0 * toks / totalTokens) < 1e-4)
    }
    // pass_share ≡ quality_filter's conjunction — the two ops cannot drift
    val passByDoc = CorpusOps.qualityFilter.fn(spark, sf)
      .select("doc_id", "passed").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("passed")).toMap
    rep.foreach { r =>
      val g = byGroup((r.getAs[String]("lang"), r.getAs[String]("source")))
      val nPass = g.map(row => passByDoc(row._1)).sum
      assert(r.getAs[Double]("pass_share") ===
        BigDecimal(1.0 * nPass / g.length).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("pack_efficiency: metrics match a replica folded from the pack_sequences tape") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def r4(n: Long, d: Long): Double =
      JBD.valueOf(1.0 * n / d).setScale(4, RoundingMode.HALF_UP).doubleValue
    val tape = CorpusOps.packSequences.fn(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("n_tok").toLong,
        r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last")))
    val expected = tape.groupBy(_._1).toSeq.map { case (src, rows) =>
      val nDocs = rows.length.toLong
      val total = rows.map(_._2).sum
      val nChunks = (total + 511) / 512
      val straddlers = rows.count(t => t._3 != t._4).toLong
      val crossings = rows.map(t => t._4 - t._3).sum
      (src, nDocs, total, nChunks, nChunks * 512 - total,
        r4(total, nChunks * 512), straddlers, r4(straddlers, nDocs),
        crossings, r4(crossings, nDocs))
    }.sortBy(_._1)
    val got = CorpusOps.packEfficiency.fn(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getDouble(7),
        r.getLong(8), r.getDouble(9)))
    assert(got === expected)
    // the report measures something on this corpus
    assert(got.forall(t => t._6 <= 1.0 && t._5 < 512))
    assert(got.exists(_._7 > 0), "no straddling doc — vacuous")
    // a doc can cross >1 boundary iff it is longer than the chunk: pin the
    // equivalence rather than assume the corpus has a >512-token doc
    val maxTok = tape.map(_._2).max
    if (maxTok > 512) assert(got.exists(t => t._9 > t._7))
    else assert(got.forall(t => t._9 == t._7))
  }

  test("epoch_plan: allocation conserves the budget, caps bind and flag correctly") {
    val rows = CorpusOps.epochPlan.fn(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("tokens"),
        r.getAs[Long]("allocated_tokens"), r.getAs[Double]("epochs_raw"),
        r.getAs[Long]("planned_tokens"), r.getAs[Double]("epochs_planned"),
        r.getAs[Int]("data_constrained")))
    assert(rows.length >= 3)
    val budget = rows.map(_._2).sum
    // Σ floor(share_i × budget) never exceeds the budget by more than the
    // |langs| rounding slack, and never undershoots by more than that
    val allocated = rows.map(_._3).sum
    assert(allocated <= budget + rows.length && allocated >= budget - rows.length,
      s"allocation drifted from budget: $allocated vs $budget")
    rows.foreach { case (lang, tok, alloc, eRaw, planned, ePlanned, constrained) =>
      assert(planned === math.min(alloc, CorpusOps.MaxEpochs.toLong * tok), lang)
      assert(ePlanned <= CorpusOps.MaxEpochs + 1e-9, lang)
      assert((constrained == 1) === (alloc > CorpusOps.MaxEpochs.toLong * tok), lang)
      assert(math.abs(eRaw - 1.0 * alloc / tok) <= 1e-4, lang)
    }
    // the temperature mix must actually redistribute: at least one
    // language trains past 1 epoch and one below
    assert(rows.exists(_._4 > 1.0) && rows.exists(_._4 < 1.0))
    // consistency with corpus_temperature: allocation share == temp_share
    // up to the floor slack (±1 token / budget) and the two 1e-6 roundings
    val temp = CorpusOps.corpusTemperature.fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("temp_share")).toMap
    rows.foreach { case (lang, _, alloc, _, _, _, _) =>
      assert(math.abs(1.0 * alloc / budget - temp(lang)) < 1.0 / budget + 2e-6, lang)
    }
  }

  test("ngram_novelty: every shingle is novel exactly once; first doc scores 1.0") {
    val rows = CorpusOps.ngramNovelty.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles"))
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // Σ n_novel over docs = |distinct corpus shingles|: each shingle has
    // exactly one first occurrence — the conservation law of the op
    val distinctShingles = graft.Tables.documents(spark, sf)
      .select(explode(expr("array_distinct(graft_shingles(split(text, ' '), 3))"))
        .as("s"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum === distinctShingles)
    // the earliest doc can only contain first-seen content
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Double]("novelty") === 1.0)
  }

  test("sample_weighted: rates bounded, realized tracks target, re-run identical") {
    val rows = CorpusOps.sampleWeighted.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("rate")
      assert(rate > 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("tokens"))
      // the md5-threshold keep rule realizes the target rate up to
      // binomial noise at this stratum size
      assert(math.abs(r.getAs[Double]("realized_rate") - rate) < 0.2,
        s"${r.getString(0)}: realized ${r.getAs[Double]("realized_rate")} vs $rate")
    }
    // upsampling is real: at least one lang is kept at a higher rate than
    // another (temperature flattening moves rates apart)
    val rates = rows.map(_.getAs[Double]("rate"))
    assert(rates.max > rates.min)
    // pure function of the corpus — a re-run is bit-identical
    val again = CorpusOps.sampleWeighted.fn(spark, sf).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("token_length_quantiles: histogram quantiles equal sorted-list quantiles") {
    val rows = CorpusOps.tokenLengthQuantiles.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val lengths = graft.Tables.documents(spark, sf)
      .select(col("lang"), expr("size(split(text, ' '))").as("n")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).sorted).toMap
    rows.foreach { r =>
      val ls = lengths(r.getString(0))
      assert(r.getAs[Long]("n_docs") === ls.length.toLong)
      // lower-quantile rule on the fully sorted list: ⌈p·n⌉-th smallest
      def q(p: Double) = ls(math.ceil(p * ls.length).toInt - 1)
      assert(r.getAs[Int]("p50") === q(0.5), s"${r.getString(0)} p50")
      assert(r.getAs[Int]("p90") === q(0.9), s"${r.getString(0)} p90")
      assert(r.getAs[Int]("p99") === q(0.99), s"${r.getString(0)} p99")
      assert(r.getAs[Int]("max_words") === ls.max)
      assert(r.getAs[Int]("p50") <= r.getAs[Int]("p90") &&
        r.getAs[Int]("p90") <= r.getAs[Int]("p99") &&
        r.getAs[Int]("p99") <= r.getAs[Int]("max_words"))
    }
  }

  test("perplexity_buckets: terciles conserve docs, stay near-balanced, " +
    "and mean xent strictly orders head < middle < tail") {
    val rows = CorpusOps.perplexityBuckets.fn(spark, sf).collect()
    val langDocs = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (lang, g) =>
      assert(g.map(_.getString(1)).sorted.toSeq === Seq("head", "middle", "tail"))
      val byB = g.map(r => r.getString(1) -> r).toMap
      assert(g.map(_.getAs[Long]("n_docs")).sum === langDocs(lang), s"$lang conservation")
      // tercile cuts on a 4-decimal grid: ties can move a few docs across
      // a boundary but never unbalance a bucket grossly
      val sizes = g.map(_.getAs[Long]("n_docs"))
      assert(sizes.max - sizes.min <= langDocs(lang) / 3, s"$lang balance")
      assert(byB("head").getAs[Double]("mean_xent")
        < byB("middle").getAs[Double]("mean_xent"), s"$lang head<middle")
      assert(byB("middle").getAs[Double]("mean_xent")
        < byB("tail").getAs[Double]("mean_xent"), s"$lang middle<tail")
      val shares = g.map(_.getAs[Double]("doc_share")).sum
      assert(math.abs(shares - 1.0) < 0.001, s"$lang shares")
    }
  }

  test("heaps_fit: OLS replays from vocab_growth's published curve; " +
    "closed vocabulary yields the saturation verdict") {
    val fit = CorpusOps.heapsFit.fn(spark, sf).collect()
    assert(fit.length === 1)
    val r = fit.head
    val vg = CorpusOps.vocabGrowth.fn(spark, sf).collect()
    assert(r.getAs[Long]("n_points") === vg.length.toLong)
    assert(r.getAs[Long]("n_total") === vg.map(_.getAs[Long]("n_tokens")).sum)
    // driver-side OLS replay on the same rounded-log grid
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cum = 0L
    val pts = vg.sortBy(_.getAs[Long]("decile")).map { row =>
      cum += row.getAs[Long]("n_tokens")
      (r6(math.log(cum.toDouble) / math.log(2)),
        r6(math.log(row.getAs[Long]("cum_types").toDouble) / math.log(2)))
    }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => r6(p._1 * p._2)).sum
    val sxx = pts.map(p => r6(p._1 * p._1)).sum
    val den = n * sxx - sx * sx
    val beta = (n * sxy - sx * sy) / den
    assert(math.abs(r.getAs[Double]("beta") - beta) < 1e-3)
    // this corpus's vocabulary closes in decile 0: saturation verdict
    assert(math.abs(r.getAs[Double]("beta")) < 0.05)
    assert(math.abs(r.getAs[Double]("pred_log2_vocab_10x")
      - (r.getAs[Double]("intercept") + r.getAs[Double]("beta")
        * r6(math.log(10.0 * r.getAs[Long]("n_total")) / math.log(2)))) < 2e-3)
  }

  test("quality_plane_agreement: grid conserves the gate's verdicts; lift algebra holds") {
    val grid = CorpusOps.qualityPlaneAgreement.fn(spark, sf).collect()
    assert(grid.nonEmpty)
    val gate = CorpusOps.qualityFilter.fn(spark, sf).collect()
      .groupBy(_.getAs[Int]("passed")).view.mapValues(_.length.toLong).toMap
    val byVerdict = grid.groupBy(_.getAs[Int]("passed"))
    byVerdict.foreach { case (p, g) =>
      assert(g.map(_.getAs[Long]("n_docs")).sum === gate(p), s"verdict $p conservation")
      assert(math.abs(g.map(_.getAs[Double]("share_within_verdict")).sum - 1.0) < 0.002)
    }
    val n = grid.map(_.getAs[Long]("n_docs")).sum.toDouble
    val bucketTotals = grid.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    grid.foreach { r =>
      val base = bucketTotals(r.getString(1)) / n
      val exp = r.getAs[Double]("share_within_verdict") / base
      assert(math.abs(r.getAs[Double]("lift") - exp) < 0.02, s"lift ${r.getString(1)}")
    }
    // honest verdict pinned: on this synthetic corpus the heuristic rules
    // and the LM terciles are near-independent — lift stays close to 1
    // (real fluency signal would push (passed, head) well above it)
    grid.foreach(r => assert(math.abs(r.getAs[Double]("lift") - 1.0) < 0.3))
  }

  test("quality_ablation: reconciles with quality_filter and bounds hold") {
    val qf = SparkEntry.queries("quality_filter")(spark, sf)
      .select("doc_id", "n_words", "r_too_short", "r_repetitive", "r_word_len",
        "r_no_stopword", "n_failed", "passed").collect()
    val ab = SparkEntry.queries("quality_ablation")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ab.size === 4)
    val nDocs = qf.length.toLong
    val nPassed = qf.count(_.getAs[Int]("passed") == 1).toLong
    for ((rule, r) <- ab) {
      val flagged = qf.count(_.getAs[Int](rule) == 1).toLong
      val sole = qf.count(x => x.getAs[Int](rule) == 1 && x.getAs[Int]("n_failed") == 1).toLong
      val words = qf.filter(x => x.getAs[Int](rule) == 1 && x.getAs[Int]("n_failed") == 1)
        .map(_.getAs[Int]("n_words").toLong).sum
      assert(r.getAs[Long]("n_flagged") === flagged, rule)
      assert(r.getAs[Long]("n_sole_reject") === sole, rule)
      assert(r.getAs[Long]("words_recoverable") === words, rule)
      assert(r.getAs[Long]("n_docs") === nDocs && r.getAs[Long]("n_passed") === nPassed)
      // dropping a rule can only ADD passers, exactly by its sole rejects
      assert(r.getAs[Double]("pass_rate_without") >= r.getAs[Double]("pass_rate"))
      assert(sole <= flagged)
    }
    // sole-reject sets are disjoint by construction (n_failed = 1 ties each
    // doc to exactly one rule) — their union can't exceed the reject pool
    assert(ab.values.map(_.getAs[Long]("n_sole_reject")).sum <= nDocs - nPassed)
  }

  test("corpus_export: reconciles bit-for-bit with corpus_funnel and the written release") {
    val exp = SparkEntry.queries("corpus_export")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val funnel = SparkEntry.queries("corpus_funnel")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(exp.keySet === funnel.keySet, "stratum sets differ")
    exp.foreach { case (k, e) =>
      val f = funnel(k)
      // the materializer's stage arithmetic IS the funnel's counts
      assert(e.getAs[Long]("n_total") === f.getAs[Long]("n_total"), k)
      assert(e.getAs[Long]("drop_quality") ===
        f.getAs[Long]("n_total") - f.getAs[Long]("n_quality"), k)
      assert(e.getAs[Long]("drop_dup") ===
        f.getAs[Long]("n_quality") - f.getAs[Long]("n_unique"), k)
      assert(e.getAs[Long]("drop_contam") ===
        f.getAs[Long]("n_unique") - f.getAs[Long]("n_clean"), k)
      // what landed on disk = the funnel's survivors, split-partitioned
      assert(e.getAs[Long]("n_written") === f.getAs[Long]("n_clean"), k)
      assert(e.getAs[Long]("n_train") + e.getAs[Long]("n_val")
        + e.getAs[Long]("n_test") === e.getAs[Long]("n_written"), k)
      // conservation: rows in = kept + dropped-by-stage
      assert(e.getAs[Long]("n_total") === e.getAs[Long]("drop_quality")
        + e.getAs[Long]("drop_dup") + e.getAs[Long]("drop_contam")
        + e.getAs[Long]("n_written"), k)
    }
    // non-vacuous: something was written and the gates actually drop
    // (this corpus has no byte-exact dups — dedup_source_matrix's note —
    // so drop_dup may legitimately be 0; quality + contamination must not)
    assert(exp.values.map(_.getAs[Long]("n_written")).sum > 0)
    assert(exp.values.map(_.getAs[Long]("drop_quality")).sum > 0)
    assert(exp.values.map(_.getAs[Long]("drop_contam")).sum > 0)
  }

  test("corpus_export: a fully-contaminated corpus yields an all-zero report, not a crash") {
    // every doc shares its 4-grams with a benchmark-slice (id % 29 == 0)
    // twin, so decontamination drops EVERYTHING: the written release is an
    // empty layout (zero parquet footers) and the read-back must ride the
    // writer's pinned schema — the sf10 replicated-crawl shape, where
    // schema inference over zero files used to throw UNABLE_TO_INFER_SCHEMA
    val tmp = java.nio.file.Files.createTempDirectory("graft-export-empty-").toString
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    spark.range(0, 30)
      .select(col("id").as("doc_id"), lit(txt).as("text"),
        lit("en").as("lang"), lit("crawl").as("source"),
        lit(txt.length.toLong).as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("corpus_export")(spark, tmp).collect()
    assert(rows.nonEmpty, "report must still carry the strata")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_written") === 0L)
      assert(r.getAs[Long]("n_train") === 0L)
      assert(r.getAs[Long]("n_val") === 0L)
      assert(r.getAs[Long]("n_test") === 0L)
      // conservation still holds with zero survivors
      assert(r.getAs[Long]("n_total") === r.getAs[Long]("drop_quality")
        + r.getAs[Long]("drop_dup") + r.getAs[Long]("drop_contam"))
    }
  }

  test("corpus_export: the release sink is append-only (overwrite refused, files intact)") {
    // force the export, then try to destroy it through the guarded writer
    SparkEntry.queries("corpus_export")(spark, sf).collect()
    val dir = graft.Scratch.cachedExport(spark, "corpus-release", sf)(_ => fail("must be memoized"))
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count()
    assertThrows[UnsupportedOperationException] {
      graft.sources.FeedSources.writeGuardedBy(
        Tables.documents(spark, sf).limit(1), dir, Seq("lang"),
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count() === before)
  }

  test("contamination_sources: rolls decontaminate up by source exactly") {
    val dec = SparkEntry.queries("decontaminate")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_shingles")).toMap
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SparkEntry.queries("contamination_sources")(spark, sf).collect()
    // every source appears, zero-hit ones included
    assert(rows.map(_.getString(0)).toSet === srcOf.values.toSet)
    val bySource = dec.toSeq.groupBy { case (id, _) => srcOf(id) }
    rows.foreach { r =>
      val src = r.getString(0)
      val expDocs = bySource.get(src).map(_.size.toLong).getOrElse(0L)
      val expShingles = bySource.get(src).map(_.map(_._2).sum).getOrElse(0L)
      assert(r.getAs[Long]("n_contaminated") === expDocs, src)
      assert(r.getAs[Long]("n_hit_shingles") === expShingles, src)
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("contam_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }
  test("corpus_dsir: token conservation, exact mean threshold, target slice preferred") {
    val rows = SparkEntry.queries("corpus_dsir")(spark, sf).collect()
    // one row per document (every doc has at least one non-empty token)
    assert(rows.length === Tables.documents(spark, sf).count())
    // n_tokens conservation vs an independent whitespace count
    val tok = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === tok)
    // dsir_bits is exactly micro/1e6 and selected is the exact
    // cross-multiplied corpus-mean-per-token threshold
    val totT = BigInt(rows.map(_.getAs[Long]("n_tokens")).sum)
    val totM = rows.map(r => BigInt(r.getAs[Long]("dsir_micro"))).sum
    rows.foreach { r =>
      val micro = BigInt(r.getAs[Long]("dsir_micro"))
      val nt = BigInt(r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("dsir_bits") ===
        r.getAs[Long]("dsir_micro").toDouble / 1000000)
      assert((r.getAs[Long]("selected") === 1L) === (micro * totT > nt * totM))
    }
    // importance weighting prefers the target (en) slice: its selected
    // share must beat the rest (0.61 vs 0.44 at sf0.001 - wide margin)
    val (en, rest) = rows.partition(_.getAs[String]("lang") == "en")
    def share(xs: Array[org.apache.spark.sql.Row]) =
      xs.count(_.getAs[Long]("selected") == 1L).toDouble / xs.length
    assert(share(en) > share(rest))
    // both verdicts occur (the threshold is interior, not vacuous)
    assert(rows.exists(_.getAs[Long]("selected") == 1L))
    assert(rows.exists(_.getAs[Long]("selected") == 0L))
  }
  test("corpus_doremi: excess is a nonnegative KL, weights renormalize, boost follows excess") {
    val rows = SparkEntry.queries("corpus_doremi")(spark, sf).collect()
    // one row per lang, token totals conserved vs an independent count
    val langs = Tables.documents(spark, sf).select("lang").distinct().count()
    assert(rows.length === langs)
    val tok = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("n")).agg(sum("n")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === tok)
    rows.foreach { r =>
      // excess = xent under shared LM minus own LM = KL(domain || corpus) >= 0
      assert(r.getAs[Double]("excess_bits") >= -1e-6, r.getString(0))
      assert(r.getAs[Double]("xent_shared") >= r.getAs[Double]("xent_own") - 1e-6)
      // one exponentiated-gradient step: boost = exp(excess) to 6 decimals
      assert(math.abs(r.getAs[Double]("boost") -
        math.exp(r.getAs[Double]("excess_bits"))) < 1e-5)
    }
    // both weight vectors are distributions
    assert(math.abs(rows.map(_.getAs[Double]("ref_weight")).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("new_weight")).sum - 1.0) < 1e-4)
    // the most underserved domain gains the most relative mass
    val rel = rows.map(r => r.getString(0) ->
      (r.getAs[Double]("new_weight") / r.getAs[Double]("ref_weight"))).toMap
    val exc = rows.map(r => r.getString(0) -> r.getAs[Double]("excess_bits")).toMap
    assert(rel.maxBy(_._2)._1 === exc.maxBy(_._2)._1)
  }
  test("quality_nb: labels match the rule battery, verdict is the margin sign, distillation generalizes") {
    val rows = SparkEntry.queries("quality_nb")(spark, sf).collect()
    // one row per document (side-feature tokens keep even empty docs)
    assert(rows.length === Tables.documents(spark, sf).count())
    // heur_pass IS quality_filter's verdict (shared flag engine)
    val passed = CorpusOps.qualityFilter.fn(spark, sf)
      .select("doc_id", "passed").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("passed").toLong).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("heur_pass") === passed(id), s"doc $id label drift")
      assert(r.getAs[Long]("held_out") === (if (id % 5 == 0) 1L else 0L))
      assert((r.getAs[Long]("nb_pass") == 1L) ===
        (r.getAs[Long]("margin_micro") > 0L))
    }
    // n_tokens counts only real tokens (side features live in b < 0)
    val tok = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === tok)
    // the distilled model actually learned the battery: held-out
    // agreement well above chance (0.92 at sf0.001 — wide margin)
    val held = rows.filter(_.getAs[Long]("held_out") == 1L)
    val acc = held.count(r =>
      r.getAs[Long]("heur_pass") == r.getAs[Long]("nb_pass")).toDouble / held.length
    assert(acc >= 0.8, s"held-out accuracy $acc")
    // and it is a real classifier, not a constant
    assert(rows.exists(_.getAs[Long]("nb_pass") == 1L))
    assert(rows.exists(_.getAs[Long]("nb_pass") == 0L))
  }
  test("decontaminate_bloom: no false negatives, real pruning, counts reconcile with the exact op") {
    val rows = SparkEntry.queries("decontaminate_bloom")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ns, nb, nt, nf) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_bloom_hits"),
        r.getAs[Long]("n_true_hits"), r.getAs[Long]("n_false_pos"))
      // a bloom NEVER loses a member: every true hit is admitted
      assert(nb >= nt, s"doc ${r.getLong(0)}: bloom dropped a true hit")
      assert(nf === nb - nt && nb <= ns && nb > 0)
      assert(r.getAs[Double]("fp_share") ===
        BigDecimal(1.0 * nf / ns).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the filter PRUNES: admitted probes are a small minority of probes
    val probes = rows.map(_.getAs[Long]("n_shingles")).sum
    val admitted = rows.map(_.getAs[Long]("n_bloom_hits")).sum
    assert(admitted.toDouble / probes < 0.5, s"bloom admits $admitted/$probes")
    // true-hit counts agree with the exact decontaminate op, doc by doc
    val exact = CorpusOps.decontaminate.fn(spark, sf)
      .select("doc_id", "n_hit_shingles").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = rows.filter(_.getAs[Long]("n_true_hits") > 0)
      .map(r => r.getLong(0) -> r.getAs[Long]("n_true_hits")).toMap
    assert(got === exact, "bloom ground-truth drifted from decontaminate")
  }
  test("corpus_psi: nonnegative by the information inequality, full grid, banded verdicts") {
    val rows = SparkEntry.queries("corpus_psi")(spark, sf).collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    // full grid: every (source, feature) cell reports
    assert(rows.length === nSrc * 2)
    assert(rows.map(_.getAs[String]("feature")).distinct.sorted ===
      Array("n_words", "word_len"))
    rows.foreach { r =>
      // (p-q)·log(p/q) >= 0 cell-wise, so PSI >= 0 (rounding slack only)
      val psi = r.getAs[Double]("psi")
      assert(psi >= -1e-6, s"${r.getString(0)}/${r.getString(1)}: psi $psi")
      val want = if (psi < 0.1) "stable" else if (psi < 0.25) "moderate" else "shifted"
      assert(r.getAs[String]("verdict") === want)
    }
    // doc mass conserved per feature
    val perFeature = rows.groupBy(_.getAs[String]("feature"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("n_docs")).sum }
    val nDocs = Tables.documents(spark, sf).count()
    perFeature.foreach(s => assert(s === nDocs))
    // the index discriminates on this corpus: more than one band occurs
    assert(rows.map(_.getAs[String]("verdict")).distinct.length >= 2)
  }
  test("doc_rarity: rarity replays from cell shares, threshold honest, outliers are rare by construction") {
    val rows = SparkEntry.queries("doc_rarity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf).count()
    rows.foreach { r =>
      val cellN = r.getAs[Long]("cell_n")
      // rarity is exactly the rounded -log2 of the cell share
      val want = BigDecimal(-math.log(cellN.toDouble / n) / math.log(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rarity_bits") - want) < 2e-6,
        s"doc ${r.getLong(0)}")
      assert(r.getAs[Double]("rarity_bits") >= 8.0)
      // >= 8 bits means the cell holds at most n/256 documents
      assert(cellN <= n / 256 + 1, s"doc ${r.getLong(0)}: cell_n $cellN")
    }
    // published docs are a minority of the corpus (it is an OUTLIER list)
    assert(rows.length < n / 4)
    // cell mass reconciles: every doc sharing a published cell is published
    val byCell = rows.groupBy(r => (r.getAs[Long]("b_len"), r.getAs[Long]("b_ttr"),
      r.getAs[Long]("b_wlen"), r.getAs[Long]("b_stop")))
    byCell.foreach { case (cell, rs) =>
      assert(rs.length === rs.head.getAs[Long]("cell_n"), s"cell $cell")
    }
  }
  test("corpus_kn_ppl: KN distribution sums to one, per-doc bits replay from raw counts") {
    val rows = SparkEntry.queries("corpus_kn_ppl")(spark, sf).collect()
    // raw bigram model rebuilt independently
    val docsTxt = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val bigrams = docsTxt.flatMap { case (id, ws) =>
      ws.sliding(2).filter(_.length == 2).map(p => (id, (p(0), p(1))))
    }
    val bc = bigrams.groupBy(_._2).map { case (g, xs) => g -> xs.length.toLong }
    val c1 = bc.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val k1 = bc.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val nl = bc.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val bTypes = bc.size.toLong
    val d = 0.75
    def pkn(g: (String, String)): Double =
      math.max(bc.getOrElse(g, 0L) - d, 0) / c1(g._1) +
        (d * k1(g._1) / c1(g._1)) * (nl.getOrElse(g._2, 0L).toDouble / bTypes)
    // Kneser-Ney is a proper distribution: sum over ALL continuations = 1
    val vocab = (bc.keySet.map(_._1) ++ bc.keySet.map(_._2)).toSeq
    for (w1 <- c1.keys.take(3))
      assert(math.abs(vocab.map(w2 => pkn((w1, w2))).sum - 1.0) < 1e-9, s"mass($w1)")
    // per-doc bits replay through the same micro-bits half-up mean
    val byDoc = bigrams.groupBy(_._1)
    rows.take(50).foreach { r =>
      val id = r.getLong(0)
      val gs = byDoc(id).map(_._2)
      assert(r.getAs[Long]("n_bigrams") === gs.length.toLong)
      val sumMicro = gs.map { g =>
        val bits = BigDecimal(-math.log(pkn(g)) / math.log(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        (bits * 1000000).toLong
      }.sum
      val n = gs.length.toLong
      val want = ((2 * sumMicro + n * 100) / (2 * n * 100)).toDouble / 10000
      assert(math.abs(r.getAs[Double]("bits_per_bigram") - want) < 2e-4,
        s"doc $id bits")
      assert(r.getAs[Double]("ppl") ===
        BigDecimal(math.pow(2, r.getAs[Double]("bits_per_bigram")))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("sample_stratified: Hamilton allocation is exact and the pick honors it") {
    val rows = CorpusOps.sampleStratified.fn(spark, sf).collect()
    val totalDocs = Tables.documents(spark, sf).count()
    val budget = totalDocs / 3
    // quotas spend the budget exactly — floors plus largest-remainder seats
    assert(rows.map(_.getAs[Long]("n_alloc")).sum === budget)
    assert(rows.forall(r => Seq(0L, 1L).contains(r.getAs[Long]("extra"))))
    // Hamilton quota property: every stratum gets floor or ceil of its
    // exact proportional share, never more, never less
    rows.foreach { r =>
      val exactFloor = r.getAs[Long]("n_docs") * budget / totalDocs
      assert(r.getAs[Long]("quota_floor") === exactFloor)
      assert(r.getAs[Long]("n_alloc") === exactFloor ||
        r.getAs[Long]("n_alloc") === exactFloor + 1)
    }
    // extras go to the LARGEST remainders: no stratum that got a seat may
    // have a smaller remainder than one that didn't
    val minGot = rows.filter(_.getAs[Long]("extra") == 1L)
      .map(_.getAs[Long]("remainder")).minOption.getOrElse(Long.MaxValue)
    val maxNot = rows.filter(_.getAs[Long]("extra") == 0L)
      .map(_.getAs[Long]("remainder")).maxOption.getOrElse(Long.MinValue)
    assert(minGot >= maxNot,
      s"a seat went to remainder $minGot while $maxNot was passed over")
    // the realized pick fills every quota (quotas never exceed the stratum)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") === r.getAs[Long]("n_alloc"))
      assert(r.getAs[Long]("n_alloc") <= r.getAs[Long]("n_docs"))
    }
  }

  test("doc_repetition_topn: ratios replay from a direct per-n recount") {
    val out = CorpusOps.docRepetitionTopn.fn(spark, sf).cache()
    try {
      assert(out.count() === Tables.documents(spark, sf).count())
      assert(out.filter(
        col("top3_ratio") <= 0 || col("top3_ratio") > 1 ||
          col("top4_ratio") <= 0 || col("top4_ratio") > 1 ||
          col("dup5_ratio") < 0 || col("dup5_ratio") > 1 ||
          col("dup10_ratio") < 0 || col("dup10_ratio") > 1).count() === 0)
      // independent recount of the n=5 duplicate share (plain window
      // slide, no shared shingler) for every document
      val direct = Tables.documents(spark, sf)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          round(lit(1.0) * (sum("c") - count(lit(1))) / sum("c"), 4).as("want"))
      assert(out.join(direct, Seq("doc_id"))
        .filter(col("dup5_ratio") =!= col("want")).count() === 0,
        "dup5_ratio diverges from the direct recount")
    } finally out.unpersist()
  }

  test("quality_calibration: exact replay from the live quality_nb output") {
    val cal = CorpusOps.qualityCalibration.fn(spark, sfDir).collect()
    val nb = CorpusOps.qualityNb.fn(spark, sfDir)
      .filter(col("held_out") === 1)
      .select("margin_micro", "heur_pass", "nb_pass").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cal.map(_.getAs[Long]("n_docs")).sum === nb.length.toLong)
    def bucket(m: Long): Long =
      math.max(-5L, math.min(5L, math.floor(m / 2000000.0).toLong))
    val by = nb.groupBy(t => bucket(t._1))
    assert(cal.map(_.getAs[Long]("margin_bucket")).toSeq ===
      by.keys.toSeq.sorted)
    cal.foreach { r =>
      val b = r.getAs[Long]("margin_bucket")
      assert(b >= -5 && b <= 5)
      val g = by(b)
      assert(r.getAs[Long]("n_docs") === g.length.toLong, s"bucket $b")
      assert(r.getAs[Long]("n_heur_pass") === g.map(_._2).sum, s"bucket $b heur")
      assert(r.getAs[Long]("n_nb_pass") === g.map(_._3).sum, s"bucket $b nb")
      assert(r.getAs[Long]("n_agree") ===
        g.count(t => t._2 == t._3).toLong, s"bucket $b agree")
      assert(r.getAs[Long]("margin_sum_micro") === g.map(_._1).sum, s"bucket $b sum")
      val frac = BigDecimal(g.map(_._2).sum.toDouble / g.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("frac_heur_pass") === frac, s"bucket $b frac")
      // the NB sign decision and the bucket sign must cohere: a strictly
      // positive bucket only holds nb_pass = 1 rows, strictly negative
      // only nb_pass = 0 (bucket 0 straddles the margin-0 boundary)
      if (b > 0) assert(r.getAs[Long]("n_nb_pass") === r.getAs[Long]("n_docs"))
      if (b < 0) assert(r.getAs[Long]("n_nb_pass") === 0L)
    }
  }


  test("quality_source_matrix: cells reconcile with quality_filter, lift sane") {
    val sfDir = "/root/testdata/sf0.001"
    val out = graft.text.CorpusOps.all.find(_.name == "quality_source_matrix").get
      .fn(spark, sfDir).cache()
    try {
      val rows = out.collect()
      // |sources| x |rules| dense grid, every source carries all 4 rules
      val bys = rows.groupBy(_.getAs[String]("source"))
      assert(bys.values.forall(_.length === 4))
      // per-rule corpus totals reconcile with the per-doc gate's flags
      val qf = graft.text.CorpusOps.all.find(_.name == "quality_filter").get
        .fn(spark, sfDir)
      val gateTotals = qf.agg(
        sum("r_too_short"), sum("r_repetitive"), sum("r_word_len"),
        sum("r_no_stopword")).head()
      val matTotals = rows.groupBy(_.getAs[String]("rule"))
        .view.mapValues(_.map(_.getAs[Long]("n_failed")).sum).toMap
      assert(matTotals("r_too_short") === gateTotals.getLong(0))
      assert(matTotals("r_repetitive") === gateTotals.getLong(1))
      assert(matTotals("r_word_len") === gateTotals.getLong(2))
      assert(matTotals("r_no_stopword") === gateTotals.getLong(3))
      // rates in [0,1]; lift NULL only when the rule fires nowhere
      assert(rows.forall { r =>
        val fr = r.getAs[Double]("fail_rate"); fr >= 0.0 && fr <= 1.0 })
      assert(rows.forall { r =>
        !r.isNullAt(r.fieldIndex("lift")) ||
          r.getAs[Double]("corpus_rate") == 0.0 })
    } finally out.unpersist()
  }
}
