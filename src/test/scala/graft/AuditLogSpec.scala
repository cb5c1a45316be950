package graft

import graft.audit.AuditLog
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic tests of the change-log algebra against a hand-built change
  * history (the reference's own test scenario shape: insert → updates →
  * delete for one entity, audit_test.go). */
class AuditLogSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  // (audit_id, entity, op, payload k) — k only carried when it changed
  private lazy val log = Seq(
    (1L, 10L, "I", Some(1)),
    (2L, 10L, "U", Some(2)),
    (3L, 10L, "U", None), // change that did not touch k
    (4L, 10L, "U", Some(7)),
    (5L, 10L, "D", None),
    (6L, 20L, "I", Some(9))
  ).toDF("audit_id", "entity_id", "operation", "k")

  private val alg = AuditLog("entity_id", "audit_id")

  test("delta: old is previous value, NULL on insert") {
    val got = alg.delta(log, Seq("k"))
      .orderBy("audit_id")
      .select("audit_id", "old_k", "new_k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    assert(got(0) === ((1L, None, Some(1))))
    assert(got(1) === ((2L, Some(1), Some(2))))
    assert(got(2) === ((3L, Some(2), None)))
    assert(got(4) === ((5L, Some(7), None)))
  }

  test("withAll gives the withColumn chain's columns and rows, a mixed step included") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("entity_id").orderBy("audit_id")
    val cols = Seq("prev_k" -> lag(col("k"), 1).over(w), "k" -> (col("k") * 10),
      "op2" -> lower(col("operation")), "n" -> count(lit(1)).over(w))
    // mixed (window and plain, "k" replaced in place), plain only, window only
    Seq(cols, cols.slice(1, 3), cols.take(1)).foreach { cs =>
      val want = cs.foldLeft(log) { case (d, (n, e)) => d.withColumn(n, e) }
      val got = alg.withAll(log, cs)
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(got.collect().map(_.toString).sorted === want.collect().map(_.toString).sorted)
    }
  }

  test("snapshot: state carries forward through changes that skip the field") {
    val got = alg.snapshot(log, Seq("k"))
      .orderBy("audit_id").select("state_k").collect().map(Option apply _.get(0))
    assert(got.toSeq === Seq(Some(1), Some(2), Some(2), Some(7), Some(7), Some(9)))
  }

  test("compare: old state NULL on insert, new state NULL on delete") {
    val got = alg.compare(log, Seq("k"))
      .orderBy("audit_id")
      .select("old_state_k", "new_state_k")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got(0) === ((None, Some(1))))       // insert
    assert(got(2) === ((Some(2), Some(2))))    // k untouched: state holds
    assert(got(4) === ((Some(7), None)))       // delete
  }

  test("current: one row per entity with the final state") {
    val got = alg.current(log, Seq("k"))
      .orderBy("entity_id")
      .select("entity_id", "audit_id", "state_k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((10L, 5L, 7), (20L, 6L, 9)))
  }

  test("current(dropDeleted): delete-terminated entities vanish (live table)") {
    val got = alg.current(log, Seq("k"), dropDeleted = true)
      .select("entity_id").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(20L)) // entity 10 ends in 'D'
  }

  test("asOf: time travel to a mid-stream audit id") {
    val got = alg.asOf(log, Seq("k"), lit(3L))
      .filter($"entity_id" === 10L).select("state_k").head()
    assert(got.getInt(0) === 2)
  }

  // Statement-level TRUNCATE: one T row (on whatever entity carried it)
  // wipes the WHOLE table — every other entity's state must go NULL until
  // its own next value-bearing change (reference audit.go:854-951, :1362).
  private lazy val truncLog = Seq(
    (1L, 10L, "I", Some(1)),
    (2L, 20L, "I", Some(5)),
    (3L, 10L, "U", Some(2)),
    (4L, 30L, "T", None),    // TRUNCATE statement — table-wide
    (5L, 10L, "I", Some(8)), // entity 10 re-inserted after the wipe
    (6L, 20L, "U", None)     // entity 20 touched but k not re-set
  ).toDF("audit_id", "entity_id", "operation", "k")

  test("snapshotTruncAware: a T NULLs state for EVERY entity until re-set") {
    val got = alg.snapshotTruncAware(truncLog, Seq("k"))
      .orderBy("audit_id")
      .select("audit_id", "state_k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(got === Seq(
      (1L, Some(1)), (2L, Some(5)), (3L, Some(2)),
      (4L, None),      // the T row itself: table is gone
      (5L, Some(8)),   // re-insert after the boundary survives
      (6L, None)))     // entity 20's pre-T value stays wiped
  }

  test("snapshotTruncAware without any T matches plain snapshot") {
    val a = alg.snapshotTruncAware(log, Seq("k"))
      .orderBy("audit_id").select("state_k").collect().map(Option apply _.get(0))
    val b = alg.snapshot(log, Seq("k"))
      .orderBy("audit_id").select("state_k").collect().map(Option apply _.get(0))
    assert(a.toSeq === b.toSeq)
  }

  test("compareTruncAware: old NULL when prior value predates the boundary") {
    val got = alg.compareTruncAware(truncLog, Seq("k"))
      .orderBy("audit_id")
      .select("old_state_k", "new_state_k")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got(3) === ((None, None)))        // T: new wiped, old (none prior for 30)
    assert(got(4) === ((None, Some(8))))     // re-insert: old NULL (I)
    assert(got(5) === ((None, None)))        // entity 20 post-T: old WIPED, k unset
  }

  // The same history as `log`, captured the way the reference's trigger
  // actually records it: each row carries the OLD value of the fields it
  // touched (before_change), nothing else. The live table holds the
  // current row of still-existing entities (entity 10 was deleted).
  private lazy val oldLog = Seq(
    (1L, 10L, "I", None),     // insert: no before image
    (2L, 10L, "U", Some(1)),  // overwrote k=1
    (3L, 10L, "U", None),     // did not touch k
    (4L, 10L, "U", Some(2)),  // overwrote k=2
    (5L, 10L, "D", Some(7)),  // delete: before image carries k=7
    (6L, 20L, "I", None)
  ).toDF("audit_id", "entity_id", "operation", "old_k")
  private lazy val live = Seq((20L, 9)).toDF("entity_id", "k")

  test("snapshotFromOld: forward scan + live fallback reconstructs state") {
    val got = alg.snapshotFromOld(oldLog, Seq("k"), Some(live))
      .orderBy("audit_id").select("state_k").collect().map(Option apply _.get(0))
    // after each change: 1, 2, 2, 7, <deleted>, 9 (live fallback)
    assert(got.toSeq === Seq(Some(1), Some(2), Some(2), Some(7), None, Some(9)))
  }

  test("deltaFromOld round-trips the new-values history") {
    val fromOld = alg.deltaFromOld(oldLog, Seq("k"), Some(live))
      .orderBy("audit_id")
      .select("audit_id", "old_k", "new_k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    // new_k must equal the value each change actually set (the `k` column
    // of the new-values log, held through no-touch changes), NULL on D
    val newStates = alg.snapshot(log, Seq("k"))
      .orderBy("audit_id")
      .select("audit_id", "operation", "state_k")
      .collect().map(r => (r.getLong(0),
        if (r.getString(1) == "D") None else Option(r.get(2))))
    assert(fromOld.map(t => (t._1, t._3)).toSeq === newStates.toSeq)
    // old side is the sparse before image, NULL on I
    assert(fromOld.map(_._2).toSeq ===
      Seq(None, Some(1), None, Some(2), Some(7), None))
  }

  test("deltaFromOld: a long single-entity history matches a driver-side forward fold") {
    // thousands of changes to ONE entity (the case the forward scan must
    // stay linear on), old_k carried by about one change in eight, and a
    // final stretch no change touches, so the live row fills it
    val n = 3000
    val rnd = new scala.util.Random(11)
    val rows = (1 to n).map { i =>
      val oldK =
        if (i > 1 && i <= n - 40 && rnd.nextInt(8) == 0) Some(rnd.nextInt(1000)) else None
      (i.toLong, 1L, if (i == 1) "I" else "U", oldK)
    }
    val liveK = 4242
    val got = alg.deltaFromOld(
        rows.toDF("audit_id", "entity_id", "operation", "old_k"), Seq("k"),
        Some(Seq((1L, liveK)).toDF("entity_id", "k")))
      .orderBy("audit_id").select("old_k", "new_k")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    // new value of change i: the next non-null old value after i, else live
    val nextOld = rows.map(_._4).scanRight(Option.empty[Int])(_ orElse _).tail
    val want = rows.zip(nextOld).map { case ((_, _, op, oldK), next) =>
      (if (op == "I") None else oldK, Some(next.getOrElse(liveK)))
    }
    assert(got.size === n)
    assert(got === want)
  }

  private val sf = "/root/testdata/sf0.001"

  test("audit_scd2: intervals tile each entity's timeline, one open row per entity") {
    val scd = graft.audit.AuditQueries.auditScd2.fn(spark, sf).cache()
    try {
      // exactly one open (is_current) interval per entity
      val open = scd.filter(col("is_current") === 1)
        .groupBy("entity_id").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 1)
      assert(open.count() === 0)
      // each closed interval's valid_to equals the entity's next valid_from
      // (no gaps, no overlaps — the timeline tiles exactly)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("entity_id").orderBy("audit_id")
      val holes = scd
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .filter(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
      assert(holes.count() === 0)
      // reconstructed state matches the snapshot view at the same change
      val snap = graft.audit.AuditQueries.auditSnapshot.fn(spark, sf)
        .select(col("audit_id"), col("state_k").as("snap_k"))
      val drift = scd.join(snap, Seq("audit_id"))
        .filter(!(col("state_k") <=> col("snap_k")))
      assert(drift.count() === 0)
    } finally scd.unpersist()
  }

  test("audit_freshness: buckets partition the entity set, staleness matches a replica") {
    val rows = graft.audit.AuditQueries.auditFreshness.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val nEntities = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum === nEntities,
      "buckets do not partition the entity set")
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-3, "shares don't sum to 1")
    // bucket ranges must be disjoint and ordered (min of the next bucket
    // above the max of the previous one)
    val sorted = rows.sortBy(_.getString(0))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) < b.getLong(2), s"$a overlaps $b")
      case _ => ()
    }
    // replica: per-entity staleness from the raw feed, bucketed locally
    val feed = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val head = feed.map(_._2).max
    val byEntity = feed.groupBy(_._1).map { case (_, g) => head - g.map(_._2).max }
    def bucket(s: Long) =
      if (s < 3600) "0_lt_1h" else if (s < 21600) "1_1h_6h"
      else if (s < 86400) "2_6h_24h" else if (s < 604800) "3_1d_7d" else "4_ge_7d"
    val expect = byEntity.groupBy(bucket).map { case (b, g) =>
      (b, g.size.toLong, g.min, g.max) }.toSeq.sortBy(_._1)
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1) === expect)
  }

  test("audit_orphans: reports exactly the audited entities missing from the live set") {
    val orphans = graft.audit.AuditQueries.auditOrphans.fn(spark, sf).cache()
    try {
      // expected set recomputed independently: audited entities ANTI the
      // simulated live dimension (c_custkey % 7 <> 0)
      val audited = Tables.events(spark, sf)
        .select(col("user_id").as("entity_id")).distinct()
      val live = Tables.customer(spark, sf)
        .filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("entity_id"))
      val expected = audited.join(live, Seq("entity_id"), "left_anti")
      assert(orphans.count() === expected.count())
      assert(orphans.join(expected, Seq("entity_id"), "left_anti").count() === 0)
      // the recovered state agrees with audit_current for those entities
      val cur = graft.audit.AuditQueries.auditCurrent.fn(spark, sf)
        .select(col("entity_id"), col("state_val").as("cur_val"))
      val drift = orphans.join(cur, Seq("entity_id"))
        .filter(!(col("state_val") <=> col("cur_val")))
      assert(drift.count() === 0)
    } finally orphans.unpersist()
  }

  test("audit_rollback: applying the script to current state reproduces the T-state") {
    // The invariant the op exists for: (current entity set + script) ==
    // (entity set and payload state as of the rollback point T). Both
    // sides are recomputed here from the raw feed with an independent
    // driver-side fold, then the script is APPLIED and compared.
    val feed = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .select("audit_id", "entity_id", "operation", "event_type", "field_k", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .sortBy(_._1)
    val mid = feed.map(_._1).max / 2
    // driver-side snapshot fold: sparse payload (k on U, val on purchase)
    def stateUpTo(cut: Long): Map[Long, (String, Option[Int], Option[Double])] =
      feed.filter(_._1 <= cut).groupBy(_._2).map { case (e, rows) =>
        var k: Option[Int] = None; var v: Option[Double] = None; var op = ""
        rows.sortBy(_._1).foreach { case (_, _, o, et, fk, vv) =>
          op = o
          if (o == "U" && fk.isDefined) k = fk
          if (et == "purchase" && vv.isDefined) v = vv
        }
        e -> (op, k, v)
      }
    val tState = stateUpTo(mid)
    val cState = stateUpTo(Long.MaxValue)
    // live = last op is not a delete (the op's liveness rule)
    val tLive = tState.filter(_._2._1 != "D").map { case (e, (_, k, v)) => e -> (k, v) }
    // apply the script on top of current
    var applied = cState.filter(_._2._1 != "D")
      .map { case (e, (_, k, v)) => e -> (k, v) }
    val script = SparkEntry.queries("audit_rollback")(spark, TestSession.sfDir)
      .select("entity_id", "action", "restore_k", "restore_val")
      .collect()
    script.foreach { r =>
      val e = r.getLong(0)
      r.getString(1) match {
        case "DELETE" => applied = applied - e
        case _ => applied = applied + (e -> ((
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      }
    }
    assert(applied === tLive,
      s"rollback script does not restore the T-state (T=$mid)")
    // minimality: every scripted entity genuinely moved after T
    val post = feed.filter(_._1 > mid).map(_._2).toSet
    assert(script.map(_.getLong(0)).forall(post.contains))
  }

  test("audit_schema_drift: counts match a driver-side field-set replica") {
    val pairs = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .filter(col("field_k").isNotNull)
      .select(to_date(date_trunc("day", col("ts"))).as("day"), col("field_k"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    val byDay: Map[String, Set[Int]] =
      pairs.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    val days = byDay.keys.toSeq.sorted
    val firstSeen = pairs.groupBy(_._2).map { case (f, xs) => f -> xs.map(_._1).min }
    var cum = 0L
    val expected = days.zipWithIndex.map { case (day, i) =>
      val nNew = firstSeen.count(_._2 == day).toLong
      val nVan = if (i == 0) 0L
        else (byDay(days(i - 1)) -- byDay(day)).size.toLong
      cum += nNew
      (day, byDay(day).size.toLong, nNew, nVan, cum)
    }
    val got = SparkEntry.queries("audit_schema_drift")(spark, TestSession.sfDir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // churn is real on this feed: fields both appear and vanish mid-feed
    assert(expected.drop(1).exists(_._3 > 0), "no new field after day 1 — vacuous")
    assert(expected.exists(_._4 > 0), "no vanished field — vacuous")
  }

  test("audit_op_transitions: matrix matches a driver-side pair fold") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val feed = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .select("entity_id", "audit_id", "operation")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val pairs = feed.groupBy(_._1).toSeq.flatMap { case (e, rows) =>
      val ops = rows.sortBy(_._2).map(_._3)
      ("^" +: ops.init).zip(ops).map { case (p, o) => (e, p, o) }
    }
    val total = pairs.length.toLong
    def bad(p: String, o: String): Int =
      if ((p == "^" && o != "I") || (p == "I" && o == "I") ||
        (p == "U" && o == "I") ||
        ((p == "D" || p == "T") && (o == "U" || o == "D"))) 1 else 0
    val expected = pairs.groupBy(t => (t._2, t._3)).toSeq.map { case ((p, o), xs) =>
      (p, o, xs.length.toLong, xs.map(_._1).distinct.length.toLong,
        JBD.valueOf(1.0 * xs.length / total)
          .setScale(6, RoundingMode.HALF_UP).doubleValue, bad(p, o))
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("audit_op_transitions")(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5))).toSeq
    assert(got === expected)
    // shares account for every observed pair exactly once
    assert(got.map(_._3).sum === total)
    // this synthetic feed is not a legal trigger log: the detector must
    // light up somewhere, and the legal U→U bulk must dominate
    assert(got.exists(_._6 == 1))
    // U→U is the modal transition (updates dominate any live change feed)
    val modal = got.maxBy(_._3)
    assert((modal._1, modal._2) === (("U", "U")), s"modal transition: $modal")
  }

  test("audit_value_drift: TVD matches a driver-side share fold; flag coherent") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def share(n: Long, d: Long): JBD =
      JBD.valueOf(1.0 * n / d).setScale(6, RoundingMode.HALF_UP)
    val vals = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(to_date(date_trunc("day", col("ts"))).as("day"), col("value"))
      .collect().map(r => (r.getDate(0).toString,
        math.min(math.floor(r.getDouble(1) / 30).toInt, 9)))
    val minDay = vals.map(_._1).min
    val baseCut = java.time.LocalDate.parse(minDay).plusDays(7).toString
    val baseCounts = vals.filter(_._1 < baseCut).groupBy(_._2)
      .map { case (b, xs) => b -> xs.length.toLong }
    val btot = baseCounts.values.sum
    val q = (0 to 9).map(b => b -> baseCounts.get(b).map(share(_, btot))
      .getOrElse(JBD.ZERO.setScale(6))).toMap
    val expected = vals.groupBy(_._1).toSeq.sortBy(_._1).map { case (day, xs) =>
      val tot = xs.length.toLong
      val devs = (0 to 9).map { b =>
        val pn = xs.count(_._2 == b).toLong
        share(pn, tot).subtract(q(b)).abs
      }
      val tvd = BigDecimal(devs.reduce(_ add _)).toDouble / 2
      val tvdR = BigDecimal(tvd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (day, tot, if (day < baseCut) 1 else 0, tvdR,
        BigDecimal(devs.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (tvdR > 0.1) 1 else 0)
    }
    val got = SparkEntry.queries("audit_value_drift")(spark, TestSession.sfDir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5))).toSeq
    assert(got === expected)
    assert(got.count(_._3 == 1) >= 5, "baseline window under-populated — vacuous")
    assert(got.exists(_._3 == 0), "no post-baseline day — vacuous")
    // with ~10-30 purchases/day over 10 buckets, sampling noise alone puts
    // TVD well above zero — the metric must be live, and baseline days
    // must sit closer to the pooled baseline on average than later days
    assert(got.forall(t => t._4 >= 0 && t._4 <= 1))
    assert(got.exists(_._4 > 0))
  }

  test("audit_concurrent_writers: rows match a driver-side consecutive-pair replica") {
    val got = SparkEntry.queries("audit_concurrent_writers")(spark, TestSession.sfDir)
      .select("audit_id", "prev_audit_id", "gap_s")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val feed = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .select(col("audit_id"), col("entity_id"),
        unix_timestamp(col("ts")).as("sec"), col("db_user"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = feed.groupBy(_._2).values.flatMap { rows =>
      rows.sortBy(_._1).sliding(2).collect {
        case Array((pid, _, pts, pu), (id, _, ts, u))
          if pu != u && ts - pts < 300 => (id, pid, ts - pts)
      }
    }.toSet
    assert(got === want)
    assert(got.nonEmpty) // the conflict branch actually fires at sf0.001
  }

  test("audit_chain_digest: Scala md5-chain replay matches; tampering flips exactly one chain") {
    import java.security.MessageDigest
    def md5(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val sf = "/root/testdata/sf0.001"
    val got = graft.audit.AuditQueries.auditChainDigest.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // independent replay from the normalized feed
    val feed = graft.audit.AuditQueries.log(spark, sf)
      .select(col("entity_id"), col("audit_id"), col("operation"),
        col("event_type"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        to_date(col("ts")).cast("string").as("day"), col("field_k"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5),
        if (r.isNullAt(6)) -1 else r.getInt(6)))
    def chains(rows: Seq[(Long, Long, String, String, String, String, Int)]) =
      rows.groupBy(_._1).map { case (ent, rs) =>
        val dayDigests = rs.groupBy(_._6).toSeq.map { case (day, ds) =>
          day -> md5(ds.sortBy(_._2)
            .map(x => md5(s"${x._2}|${x._3}|${x._4}|${x._5}|${x._7}"))
            .mkString(""))
        }.sortBy(_._1)
        ent -> (dayDigests.length.toLong, rs.length.toLong,
          md5(dayDigests.map(_._2).mkString("")))
      }
    val want = chains(feed.toSeq)
    assert(got === want, "chain digests replay bit-for-bit")
    // tamper: flip one record's operation in the middle of the feed
    val victim = feed(feed.length / 2)
    val tampered = feed.toSeq.map(x =>
      if (x._2 == victim._2) x.copy(_3 = if (x._3 == "U") "D" else "U") else x)
    val after = chains(tampered)
    assert(after(victim._1)._3 !== want(victim._1)._3, "victim chain flips")
    assert((after - victim._1) === (want - victim._1), "all other chains hold")
  }

  test("audit_blind_spots: gaps interleave enabled islands and count only foreign activity") {
    val sf = "/root/testdata/sf0.001"
    val islands = SparkEntry.queries("audit_enabled_ranges")(spark, sf).collect()
    val gaps = SparkEntry.queries("audit_blind_spots")(spark, sf).collect()
    // one gap between each consecutive island pair, per operation
    val islByOp = islands.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val gapsByOp = gaps.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    islByOp.foreach { case (op, n) =>
      assert(gapsByOp.getOrElse(op, 0) === n - 1, s"op $op")
    }
    // rebuild the hourly grid; verify windows are dark for their own op
    // and other_changes replays exactly
    val hrs = graft.audit.AuditQueries.log(spark, sf)
      .groupBy(col("operation"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    gaps.foreach { g =>
      val op = g.getString(0)
      val from = fmt.parse(g.getString(1)).getTime
      val to = fmt.parse(g.getString(2)).getTime
      assert(to >= from)
      assert(g.getAs[Long]("n_hours_dark") === (to - from) / 3600000L + 1)
      val own = hrs.filter(x => x._1 == op && x._2 >= from && x._2 <= to)
      assert(own.isEmpty, s"own-op activity inside a blind spot of $op")
      val other = hrs.filter(x => x._1 != op && x._2 >= from && x._2 <= to)
      assert(g.getAs[Long]("other_changes") === other.map(_._3).sum)
      assert(g.getAs[Long]("n_other_ops") === other.map(_._1).distinct.length.toLong)
    }
  }

  test("change_reason models the session GUC: NULL iff unset, vocab bounded") {
    // reference docs/deployment.md:17 — audit_star.change_reason is a
    // session parameter; sessions that never SET it capture NULL
    val got = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
      .select("audit_id", "entity_id", "change_reason").collect()
    val vocab = Set("backfill", "migration", "manual_fix", "ticket_sync")
    got.foreach { r =>
      val id = r.getLong(0); val uid = r.getLong(1)
      if (id % 3 == 0) {
        assert(vocab.contains(r.getString(2)))
        // reason is keyed by the acting principal, stable per session
        assert(r.getString(2) ===
          Seq("backfill", "migration", "manual_fix", "ticket_sync")((uid % 4).toInt))
      } else assert(r.isNullAt(2))
    }
    assert(got.exists(_.getLong(0) % 3 == 0))
  }
}
