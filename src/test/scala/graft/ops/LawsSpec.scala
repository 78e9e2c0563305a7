package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws (SURVEY.md §5 item 3) checked over ScalaCheck-generated
  * logs (fixed seeds — deterministic CI), executed on real Spark plans:
  *  - dedup idempotence: dedup(dedup(x)) == dedup(x)            (C36)
  *  - compaction homomorphism: latestPerKey(a ∪ b) ==
  *      latestPerKey(latestPerKey(a) ∪ b) when b's offsets are later (B1)
  *  - tombstone: a key whose latest record is a tombstone vanishes (B2)
  */
class LawsSpec extends SparkSpec {

  import spark.implicits._

  private val record: Gen[(Long, String, String)] = for {
    key <- Gen.oneOf("a", "b", "c", "d")
    v   <- Gen.oneOf("x", "y", "z", "TOMB")
  } yield (0L, key, v)

  private val logGen: Gen[List[(Long, String, String)]] =
    Gen.listOfN(30, record).map(
      // unique increasing offsets: an offset identifies one record, like Kafka
      _.zipWithIndex.map { case ((_, k, v), i) => (i.toLong, k, v) })

  private def samples(n: Int): Seq[List[(Long, String, String)]] =
    (0 until n).flatMap(i => logGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def latestPerKey(df: org.apache.spark.sql.DataFrame) =
    df.groupBy($"key")
      .agg(max_by(struct($"off", $"v"), $"off").as("last"))
      .select($"key", $"last.off".as("off"), $"last.v".as("v"))

  test("count-min sketch never underestimates, for EVERY key (the one-sided " +
       "guarantee agg_heavy_hitters gates on its heavy subset)") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val bytes = ev.agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val exact = ev.groupBy($"user_id").count().collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      val (k, n) = (r.getLong(0), r.getLong(1))
      assert(cms.estimateCount(k) >= n, s"CMS underestimated key $k")
    }
  }

  test("exact dedup is idempotent (C36)") {
    for (log <- samples(10)) {
      val df = log.toDF("off", "key", "v").select($"key", $"v")
      val once = df.distinct()
      val twice = once.distinct()
      assert(twice.except(once).isEmpty && once.except(twice).isEmpty)
    }
  }

  test("latest-per-key over union == latest-per-key of compacted prefix + suffix (B1)") {
    for (log <- samples(10)) {
      val (older, newer) = log.splitAt(log.length / 2)
      val a = older.toDF("off", "key", "v")
      val b = newer.toDF("off", "key", "v")
      val direct = latestPerKey(a.union(b))
      val staged = latestPerKey(latestPerKey(a).unionByName(b))
      assert(direct.except(staged).isEmpty && staged.except(direct).isEmpty)
    }
  }

  test("tombstoned keys vanish from the compacted view (B2)") {
    for (log <- samples(10)) {
      val df = log.toDF("off", "key", "v")
      val compacted = latestPerKey(df).filter($"v" =!= "TOMB")
      val expectLive = log.groupBy(_._2).view.mapValues(_.maxBy(_._1))
        .collect { case (k, (_, _, v)) if v != "TOMB" => k }.toSet
      assert(compacted.select($"key").as[String].collect().toSet === expectLive)
    }
  }

  test("batch sessionization == Spark's session_window on the same events " +
       "(batch/streaming unification, C28)") {
    // Random event times per user; sessions break on gaps > 30 min. The
    // batch lag+cumsum form (graft.ops.TimeSeries) must produce the SAME
    // (user, start, end, count) sessions Spark's gap-based session_window
    // computes — the two surfaces implement one semantic.
    val times: Gen[List[(Int, Long)]] = Gen.listOfN(60, for {
      u <- Gen.choose(0, 3)
      t <- Gen.choose(0L, 6L * 3600) // seconds across 6 hours
    } yield (u, t))
    for (i <- 0 until 5;
         evs <- times.apply(Gen.Parameters.default, Seed(i.toLong))) {
      val distinctEvs = evs.distinct // equal timestamps collapse
      val df = distinctEvs.toDF("user_id", "t")
        .withColumn("ts", timestamp_seconds($"t"))
      val viaWindow = df
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .select($"user_id",
          unix_timestamp($"session_window.start").as("start_s"),
          // session_window end = last event + gap
          (unix_timestamp($"session_window.end") - 1800L).as("last_s"),
          $"n")
        .as[(Int, Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"t")
      val viaLag = df
        .withColumn("prev", lag($"t", 1).over(w))
        .withColumn("brk",
          when($"prev".isNull || $"t" - $"prev" > 1800L, 1L).otherwise(0L))
        .withColumn("sid", sum($"brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                        org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(min($"t").as("start_s"), max($"t").as("last_s"),
             count(lit(1)).as("n"))
        .select($"user_id", $"start_s", $"last_s", $"n")
        .as[(Int, Long, Long, Long)].collect().toSet
      assert(viaWindow === viaLag)
    }
  }

  test("session_window boundary: a pair exactly gap apart MERGES — the " +
       "lag+cumsum `diff > gap` break condition is exactly equivalent") {
    // Pins the exact-gap semantics the ts_session_native oracle mirrors.
    // ADVICE r4 flagged that IF Spark used half-open [t, t+gap) windows,
    // an exact-gap pair would split while the `diff > gap` oracle merges
    // it — a divergence the µs-random fixture could never expose. This
    // test settles it empirically: events at t and exactly t+gap land in
    // ONE session (Spark merges when next <= current end), and a pair
    // one second past the gap splits. So `diff > gap` IS the exact
    // spelling of session_window's boundary, on all data, not just the
    // fixture — no oracle change needed, the equivalence claim holds.
    val df = Seq((1, 0L), (1, 1800L), (1, 1800L + 1801L))
      .toDF("user_id", "t")
      .withColumn("ts", timestamp_seconds($"t"))
    val sessions = df
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"session_window.start").as("start_s"), $"n")
      .as[(Long, Long)].collect().toSet
    assert(sessions === Set((0L, 2L), (3601L, 1L)))
  }

  test("stratified split holds EXACT per-stratum quotas: train = ⌊0.8n⌋, " +
       "train+val = ⌊0.9n⌋, partitions cover every document exactly once") {
    val out = graft.ops.llm.TextStats
      .splitStratified(spark, "/root/testdata/sf0.001")
      .select($"source", $"split", $"n_docs")
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (src, rows) =>
        src -> rows.map(r => r._2 -> r._3).toMap
      }
    val totals = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out.keySet === totals.keySet)
    out.foreach { case (src, bySplit) =>
      val n = totals(src)
      assert(bySplit.getOrElse("train", 0L) === n * 8 / 10, s"$src train")
      assert(bySplit.getOrElse("train", 0L) + bySplit.getOrElse("val", 0L)
               === n * 9 / 10, s"$src train+val")
      assert(bySplit.values.sum === n, s"$src partition")
    }
  }

  test("domain cap census equals a naive per-source top-cap replay: " +
       "kept = min(cap, total), kept chars and top doc match the " +
       "(n_chars desc, doc_id) ranking") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars")
      .as[(String, Long, Long)].collect()
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val ranked = rows.sortBy(r => (-r._3, r._2)) // n_chars desc, doc_id asc
      val kept = ranked.take(15)
      src -> ((rows.length.toLong, kept.length.toLong,
               kept.map(_._3).sum, ranked.head._2))
    }
    val out = graft.ops.llm.TextStats.domainCap(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out === expected)
  }

  test("unimax allocation is a valid water-filling: budget conserved, " +
       "every language within the epoch cap, capped = exactly 2 epochs, " +
       "uncapped languages share one water level") {
    val out = graft.ops.llm.TextStats
      .unimaxAlloc(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Boolean, Double, Double)].collect()
    val budget = 3L * out.map(_._2).sum / 2
    val total = out.map(_._4).sum
    assert(math.abs(total - budget) <= 1e-9 * budget,
      s"budget $budget vs allocated $total")
    out.foreach { case (lang, nt, capped, alloc, epochs) =>
      assert(epochs <= 2.0 + 1e-12, s"$lang over the epoch cap")
      if (capped) assert(alloc === 2.0 * nt, s"$lang capped allocation")
    }
    val levels = out.filter(!_._3).map(_._4).distinct
    assert(levels.size <= 1, s"uncapped languages at different levels: $levels")
  }

  test("shard assignment matches an independent JVM md5 replay: shards " +
       "partition the corpus and the order checksum pins the exact " +
       "intra-shard reading order") {
    val dir = "/root/testdata/sf0.001"
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val docs = graft.Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val expected = docs
      .map { case (id, ch) => (h60(s"$id#shard") % 8, h60(s"$id#order"), id, ch) }
      .groupBy(_._1).map { case (shard, rows) =>
        val ordered = rows.sortBy(r => (r._2, r._3)).zipWithIndex
        shard.toInt -> ((rows.length.toLong, rows.map(_._4).sum,
          ordered.head._1._3,
          ordered.map { case (r, i) => (i + 1L) * r._3 }.sum))
      }
    assert(expected.map(_._2._1).sum === docs.length.toLong) // partition law
    val out = graft.ops.llm.TextStats.shardAssign(spark, dir)
      .as[(Int, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out === expected)
  }

  test("agg_approx_top_k fixture precondition: the top-3 event_type cut " +
       "is strictly distinct (3rd vs 4th counts differ), so the gate's " +
       "hard-coded in_sketch=TRUE oracle cannot silently hinge on a tie") {
    // The gate emits the exact top-3 plus a sketch-membership boolean the
    // oracle pins to TRUE. A fixture regeneration that introduced a tie
    // at the cut would make a CORRECT sketch fail the gate with no hint
    // why — this law makes that drift fail HERE, with the counts shown.
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val counts = graft.Tables.events(spark, dir)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"event_type")
        .select($"n").as[Long].collect()
      assert(counts.length >= 4,
        s"$dir: need >= 4 event types for an unambiguous top-3 cut")
      val top4 = counts.take(4)
      assert(top4.distinct.length == 4,
        s"$dir: top-3 cut is tied — counts ${top4.mkString(",")}; the " +
        "agg_approx_top_k oracle's in_sketch=TRUE is no longer sound")
    }
  }

  /** The textbook EXISTS/NOT EXISTS translation of TPC-H Q21: a left-semi
    * probe for "another supplier's line on the same order" and a
    * left-anti probe for "no other supplier's late (R) line", both built
    * over the whole lineitem table. The reference [[Tpch.waitingOrdersFrom]]'s
    * single per-order aggregate must reproduce.
    */
  private def waitingOrdersSemiAnti(li: DataFrame, ord: DataFrame,
                                    sup: DataFrame): DataFrame = {
    val l1 = li.where($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
      .join(ord.where($"o_orderstatus" === "F").select($"o_orderkey"),
            $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
    val others = li.select($"l_orderkey".as("o2k"), $"l_suppkey".as("s2k"))
    val othersR = li.where($"l_returnflag" === "R")
      .select($"l_orderkey".as("o3k"), $"l_suppkey".as("s3k"))
    l1.join(others, $"l_orderkey" === $"o2k" && $"l_suppkey" =!= $"s2k",
            "left_semi")
      .join(othersR, $"l_orderkey" === $"o3k" && $"l_suppkey" =!= $"s3k",
            "left_anti")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  test("q21's per-order aggregate form returns exactly the rows of the " +
       "EXISTS/NOT EXISTS semi/anti-join form") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val asiaSup = graft.Tables.supplier(spark, dir)
        .join(broadcast(graft.Tables.nation(spark, dir)
                .join(graft.Tables.region(spark, dir)
                        .where($"r_name" === "ASIA"),
                      $"n_regionkey" === $"r_regionkey")
                .select($"n_nationkey")),
              $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name")
      val (li, ord) =
        (graft.Tables.lineitem(spark, dir), graft.Tables.orders(spark, dir))
      val agg = Tpch.waitingOrdersFrom(li, ord, asiaSup).collect().toSeq
      val semiAnti = waitingOrdersSemiAnti(li, ord, asiaSup).collect().toSeq
      assert(agg.nonEmpty, s"$dir: q21 is empty, the law checks nothing")
      assert(agg === semiAnti, s"$dir: q21 forms disagree")
      assert(Tpch.q21WaitingOrders(spark, dir).collect().toSeq === agg,
        s"$dir: the q21 gate does not run the aggregate form")
    }
  }
}
