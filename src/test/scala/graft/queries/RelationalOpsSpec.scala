package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Locks for the round-7 relational additions: cube lattice counts,
  * latest-per-key compaction, sort-free equi-depth deciles, and the
  * Pareto skyline (checked against a brute-force dominance model).
  */
class RelationalOpsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.Sessions.local("relops-spec", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  test("cube: every grouping set present; totals line up across the lattice") {
    val rows = RelationalQueries.cubeRevenue(spark, dir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = grand.head.getAs[Long]("n_customers")
    // region marginals and segment marginals both sum to the grand total
    val regionSum = rows
      .filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(_.getAs[Long]("n_customers"))
      .sum
    val segSum = rows
      .filter(r => r.isNullAt(0) && !r.isNullAt(1))
      .map(_.getAs[Long]("n_customers"))
      .sum
    val cellSum = rows
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(_.getAs[Long]("n_customers"))
      .sum
    assert(regionSum == total && segSum == total && cellSum == total)
  }

  test("latest_by_key: one row per key, and it is the max-ts row") {
    // collected event times are java.sql.Timestamp (TIMESTAMP files) or
    // java.time.LocalDateTime (TIMESTAMP_NTZ files) — normalize to µs
    def tsMicros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case d: java.time.LocalDateTime =>
        val i = d.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: Long => l
    }
    val rows = RelationalQueries.latestByKey(spark, dir).collect()
    val keys = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    assert(keys.distinct.length == keys.length, "duplicate keys in compacted output")
    // cross-check against a driver-side model
    val model = graft.Tables
      .events(spark, dir)
      .select("user_id", "event_type", "event_id", "ts")
      .collect()
      .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .view
      .mapValues(_.maxBy(r =>
        (tsMicros(r.getAs[Any]("ts")), r.getAs[Long]("event_id")))
        .getAs[Long]("event_id"))
      .toMap
    assert(rows.length == model.size)
    // ms-resolution model can tie where µs resolution doesn't — only
    // check keys where the model is unambiguous at ms resolution
    for (r <- rows) {
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))
      assert(model.contains(k))
    }
  }

  test("user_deciles: equi-depth within 1, boundaries non-overlapping, all users covered") {
    val rows = RelationalQueries.userDeciles(spark, dir).collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val sizes = rows.map(_.getAs[Long]("n_users"))
    assert(sizes.max - sizes.min <= 1, s"not equi-depth: ${sizes.toSeq}")
    // decile 1 = most active: totals are non-increasing across deciles
    val mins = rows.map(_.getAs[Long]("min_total"))
    val maxs = rows.map(_.getAs[Long]("max_total"))
    for (i <- 1 until rows.length)
      assert(maxs(i) <= mins(i - 1), s"decile ${i + 1} overlaps decile $i")
    val nUsers = graft.Tables.events(spark, dir).select("user_id").distinct().count()
    assert(sizes.sum == nUsers)
  }

  test("markov_transitions: rows normalize to 1 and pair counts tie to the event count") {
    val rows = RelationalQueries.markovTransitions(spark, dir).collect()
    assert(rows.nonEmpty)
    val byPrev = rows.groupBy(_.getString(0))
    for ((prev, rs) <- byPrev) {
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 1e-3, s"prev=$prev sums to $pSum")
    }
    // every consecutive pair counted once: total pairs = n_events - n_users
    val ev = graft.Tables.events(spark, dir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  test("touch_attribution: every purchase credited exactly once per model") {
    val rows = RelationalQueries.touchAttribution(spark, dir).collect()
    val nPurchases = graft.Tables
      .events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .count()
    assert(rows.map(_.getLong(1)).sum == nPurchases, "first-touch credits")
    assert(rows.map(_.getLong(2)).sum == nPurchases, "last-touch credits")
    val types = rows.map(_.getString(0)).toSet
    assert(types.subsetOf(Set("view", "click", "signup", "(none)")))
  }

  test("anomaly_mad: flags exactly the values beyond the robust threshold (brute force)") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.anomalyMad(spark, dir).collect()
    assert(rows.nonEmpty)
    val byType = graft.Tables
      .events(spark, dir)
      .select(col("event_type"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2))
      .toMap
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      // interpolated median, as percentile/quantile_cont compute it
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    for (r <- rows) {
      val vs = byType(r.getString(0))
      val med = BigDecimal(medianOf(vs)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mad = BigDecimal(medianOf(vs.map(v => math.abs(v - med))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("n") == vs.length)
      assert(math.abs(r.getAs[Double]("med") - med) < 1e-6, s"${r.getString(0)} med")
      assert(math.abs(r.getAs[Double]("mad") - mad) < 1e-6, s"${r.getString(0)} mad")
      val expect = vs.count(v => math.abs(v - med) > 4.4478 * mad)
      assert(r.getAs[Long]("n_outliers") == expect, s"${r.getString(0)} outliers")
    }
  }

  test("event_pmi: symmetric universe, counts bounded, pmi matches hand arithmetic") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.eventPmi(spark, dir).collect()
    assert(rows.nonEmpty)
    val baskets = graft.Tables
      .events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("event_type"))
      .distinct()
      .collect()
      .map(r => ((r.getLong(0), r.get(1).toString), r.getString(2)))
    val byBasket = baskets.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = byBasket.size.toLong
    val dSingle = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    for (r <- rows) {
      val (a, b, dab) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b, "canonical pair order")
      val expectDab = byBasket.values.count(s => s.contains(a) && s.contains(b)).toLong
      assert(dab == expectDab, s"($a,$b) d_ab")
      val pmi = math.log((dab * n).toDouble / (dSingle(a) * dSingle(b)).toDouble)
      assert(math.abs(r.getDouble(3) - pmi) < 1e-5, s"($a,$b) pmi")
    }
  }

  test("user_features: integer features match a brute-force model per user") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.userFeatures(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables
      .events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val byUser = ev.groupBy(_._1)
    val horizon = ev.map(_._2.getTime).max
    val dayMs = 86400000L
    for (r <- rows) {
      val mine = byUser(r.getLong(0))
      assert(r.getAs[Long]("n_events") == mine.length)
      assert(r.getAs[Long]("n_active_days") == mine.map(_._2).distinct.length)
      assert(r.getAs[Long]("n_purchases") == mine.count(_._3 == "purchase"))
      val first = mine.map(_._2.getTime).min
      val last = mine.map(_._2.getTime).max
      assert(r.getAs[Long]("tenure_days") == (last - first) / dayMs)
      assert(r.getAs[Long]("recency_days") == (horizon - last) / dayMs)
      assert(
        math.abs(
          r.getAs[Double]("error_rate") - mine.count(_._3 == "error").toDouble / mine.length) < 1e-5)
    }
  }

  test("containment_dedup: asymmetric scores match brute force; catches doc-in-doc pairs") {
    import org.apache.spark.sql.functions._
    val rows = DedupQueries.containmentDedup(spark, dir).collect()
    val words = graft.Tables
      .documents(spark, dir)
      .filter(col("doc_id") < 80)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").split(" ").toSet))
    for (r <- rows) {
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b)
      val (_, langA, wa) = words.find(_._1 == a).get
      val (_, langB, wb) = words.find(_._1 == b).get
      assert(langA == langB)
      val common = (wa & wb).size
      assert(r.getLong(2) == common)
      assert(math.abs(r.getDouble(3) - common.toDouble / wa.size) < 1e-5)
      assert(math.abs(r.getDouble(4) - common.toDouble / wb.size) < 1e-5)
      assert(math.max(r.getDouble(3), r.getDouble(4)) >= 0.5)
    }
    // completeness: brute force finds the same qualifying pair set
    val expect = (for {
      (da, la, wa) <- words; (db, lb, wb) <- words
      if da < db && la == lb
      c = (wa & wb).size
      // the operator compares ROUNDED containments — mirror that
      r6a = BigDecimal(c.toDouble / wa.size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      r6b = BigDecimal(c.toDouble / wb.size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if c > 0 && (r6a >= 0.5 || r6b >= 0.5)
    } yield (da, db)).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
  }

  test("active_users: dau <= wau, stickiness in (0,1], window really is 7 days") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.activeUsers(spark, dir).collect()
    assert(rows.nonEmpty)
    val ud = graft.Tables
      .events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)))
    val dayMs = 86400000L
    for (r <- rows) {
      val d = r.getTimestamp(0)
      val dau = r.getLong(1)
      val wau = r.getLong(2)
      assert(dau <= wau)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      val expectWau = ud.collect {
        case (day, u) if d.getTime - day.getTime >= 0 && d.getTime - day.getTime <= 6 * dayMs => u
      }.toSet.size
      assert(wau == expectWau, s"day $d")
    }
  }

  test("holt_forecast: fold matches a driver-side recurrence per type") {
    import org.apache.spark.sql.functions._
    val rows = SignalQueries.holtForecast(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = graft.Tables
      .events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"), count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"),
        round(col("cents").cast("double") / (col("cnt").cast("double") * 100.0), 6).as("dm"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    for (r <- rows) {
      val xs = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      assert(r.getAs[Long]("n_days") == xs.length)
      var l = xs(0)
      var b = xs(1) - xs(0)
      for (t <- 1 until xs.length) {
        val lNew = 0.5 * xs(t) + 0.5 * (l + b)
        b = 0.5 * (lNew - l) + 0.5 * b
        l = lNew
      }
      assert(math.abs(r.getAs[Double]("level") - l) < 1e-6, r.toString)
      assert(math.abs(r.getAs[Double]("trend") - b) < 1e-6, r.toString)
      assert(math.abs(r.getAs[Double]("forecast_next") - (l + b)) < 1e-6, r.toString)
    }
  }

  test("hierarchy_rollup: subtree sums match a driver-side tree walk") {
    import org.apache.spark.sql.functions._
    val rows = TreeQueries.hierarchyRollup(spark, dir).collect()
    val nodes = graft.Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // driver model: every node contributes to each ancestor on its
    // div-7 path (root contributes to itself only)
    val sums = scala.collection.mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    for ((id, cents) <- nodes) {
      var cur = id
      var continue = true
      while (continue) {
        val (sc, n) = sums(cur)
        sums(cur) = (sc + cents, n + 1)
        val parent = cur / 7
        if (parent != cur && nodes.contains(parent)) cur = parent else continue = false
      }
    }
    assert(rows.map(r => r.getAs[Long]("o_orderkey") ->
      ((r.getAs[Long]("subtree_cents"), r.getAs[Long]("n_nodes")))).toMap == sums.toMap)
    // conservation: the root subtrees partition the forest
    val roots = rows.filter { r =>
      val k = r.getAs[Long]("o_orderkey")
      k / 7 == k || !nodes.contains(k / 7)
    }
    assert(roots.map(_.getAs[Long]("n_nodes")).sum == nodes.size.toLong)
    spark.catalog.clearCache()
  }

  test("tree_depth: pointer-doubling depths match the driver parent walk") {
    val rows = TreeQueries.treeDepth(spark, dir).collect()
    val ids = graft.Tables
      .orders(spark, dir)
      .select("o_orderkey")
      .collect()
      .map(_.getLong(0))
      .toSet
    val model = ids.map { id =>
      var cur = id; var d = 0L
      while (cur / 7 != cur && ids.contains(cur / 7)) { cur = cur / 7; d += 1 }
      id -> d
    }.toMap
    assert(rows.map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("depth")).toMap == model)
    spark.catalog.clearCache()
  }

  test("table_diff: classification matches the snapshot model; no unchanged rows") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.tableDiff(spark, dir).collect()
    assert(rows.forall(_.getAs[String]("change_type") != "unchanged"))
    // orderdate arrives as Timestamp (TIMESTAMP files, UTC session) or
    // LocalDateTime (TIMESTAMP_NTZ files) — normalize to epoch millis
    def ms(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    def cutoff(y: Int): Long =
      java.time.LocalDateTime.of(y, 1, 1, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val orders = graft.Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), round(col("o_totalprice") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), ms(r.getAs[Any](1)), r.getLong(2)))
    val a = orders.filter(o => o._2 < cutoff(1999)).map(o => o._1 -> o._3).toMap
    val b = orders.filter(o => o._2 < cutoff(2000))
      .map(o => o._1 -> (o._3 + (if (o._1 % 97 == 0) 1 else 0))).toMap
    val expect = (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _ => None
      }
    }.toMap
    assert(rows.map(r =>
      r.getAs[Long]("o_orderkey") -> r.getAs[String]("change_type")).toMap == expect)
  }

  test("lateness_profile: classes partition the events and respect their bounds") {
    val rows = RelationalQueries.latenessProfile(spark, dir).collect()
    val total = graft.Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total)
    val bounds = Map(
      "in_order" -> (0L, 0L),
      "le_1m" -> (1L, 60000000L),
      "le_5m" -> (60000001L, 300000000L),
      "le_30m" -> (300000001L, 1800000000L),
      "gt_30m" -> (1800000001L, Long.MaxValue))
    for (r <- rows) {
      val (lo, hi) = bounds(r.getAs[String]("delay_class"))
      val m = r.getAs[Long]("max_late_us")
      assert(m >= lo - (if (lo == 1L) 1L else 0L) && m <= hi, r.toString)
    }
    // the jittered arrival order must actually produce late events
    assert(rows.exists(_.getAs[String]("delay_class") != "in_order"),
      "profile degenerated to fully in-order")
    spark.catalog.clearCache()
  }

  test("inventory_position: clamped fold matches a driver-side replay") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.inventoryPosition(spark, dir).collect()
    def us(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    val model = graft.Tables
      .lineitem(spark, dir)
      .select("l_partkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
      .map(r => (r.getLong(0), us(r.getAs[Any](1)), r.getLong(2), r.getInt(3),
        r.getAs[Double]("l_quantity").toLong))
      .groupBy(_._1)
      .map { case (p, ls) =>
        var pos = 0L; var so = 0L
        for ((_, _, _, ln, q) <- ls.sortBy(x => (x._2, x._3, x._4))) {
          val d = if (ln % 2 == 0) q else -q
          if (pos + d < 0) { pos = 0L; so += 1 } else pos += d
        }
        p -> ((pos, so))
      }
    assert(rows.map(r => r.getAs[Long]("l_partkey") ->
      ((r.getAs[Long]("final_position"), r.getAs[Long]("n_stockouts")))).toMap == model)
    // stockouts must actually occur somewhere, else the clamp is untested
    assert(model.values.exists(_._2 > 0), "no stockout in the data — clamp unexercised")
  }

  test("quarantine_ingest: all four seeded bad lines captured; good rows lossless") {
    import org.apache.spark.sql.functions._
    val r = RelationalQueries.quarantineIngest(spark, dir).collect().head
    assert(r.getAs[Long]("n_quarantined") == 4L)
    val truth = graft.Tables
      .events(spark, dir)
      .filter(col("event_id") % 10 === 0)
      .agg(
        count(lit(1)),
        sum(col("event_id") * 31 + col("user_id") * 7 + round(col("value") * 100).cast("long")))
      .collect().head
    assert(r.getAs[Long]("n_good") == truth.getLong(0))
    assert(r.getAs[Long]("good_checksum") == truth.getLong(1))
  }

  test("srm_check: chi2 identity holds; counts cover the user base") {
    val r = RelationalQueries.srmCheck(spark, dir).collect().head
    val (n0, n1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"))
    val users = graft.Tables.events(spark, dir).select("user_id").distinct().count()
    assert(n0 + n1 == users)
    val chi2 = math.pow((n0 - n1).toDouble, 2) / (n0 + n1).toDouble
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-6)
    assert(r.getAs[Boolean]("srm_flag") == (chi2 > 3.841))
  }

  test("mde_readout: moments re-derive; mde shrinks with more users (scaling law)") {
    val r = RelationalQueries.mdeReadout(spark, dir).collect().head
    assert(r.getAs[Double]("sd_spend") > 0)
    assert(r.getAs[Double]("mde_abs") > 0)
    // mde = 2.8016·sd·sqrt(2/(n/2)) = 2.8016·sd·2/sqrt(n)
    val want = 2.8015852186 * r.getAs[Double]("sd_spend") *
      math.sqrt(2.0 / (r.getAs[Long]("n_users").toDouble / 2.0))
    assert(math.abs(r.getAs[Double]("mde_abs") - want) < 1e-4, s"$r vs $want")
  }

  test("erasure_audit: counts conserve and the retained checksum excludes the cohort") {
    import org.apache.spark.sql.functions._
    val rows = PiiQueries.erasureAudit(spark, dir).collect()
    assert(rows.map(_.getAs[String]("entity")).sorted.toSeq == Seq("customer", "events"))
    for (r <- rows)
      assert(r.getAs[Long]("n_before") ==
        r.getAs[Long]("n_purged") + r.getAs[Long]("n_after"))
    val ev = rows.find(_.getAs[String]("entity") == "events").get
    val want = graft.Tables
      .events(spark, dir)
      .filter(col("user_id") % 13 =!= 0)
      .agg(sum(col("event_id") * 31 + round(col("value") * 100).cast("long")))
      .collect().head.getLong(0)
    assert(ev.getAs[Long]("retained_checksum") == want)
  }

  test("timed_funnel: stage counts monotone; matches a driver-side event scan") {
    import org.apache.spark.sql.functions._
    val row = RelationalQueries.timedFunnel(spark, dir).collect().head
    val (nv, nc, np) = (row.getAs[Long]("n_view"), row.getAs[Long]("n_click_1h"),
      row.getAs[Long]("n_purchase_24h"))
    assert(nv >= nc && nc >= np && np >= 0)
    // driver model over raw events, at µs resolution (the engines
    // compare at µs — an ms-truncated model could flip a boundary)
    def us(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case d: java.time.LocalDateTime =>
        val i = d.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val ev = graft.Tables
      .events(spark, dir)
      .select("user_id", "event_type", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), us(r.getAs[Any](2))))
      .groupBy(_._1)
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    var (mv, mc, mp) = (0L, 0L, 0L)
    for ((_, es) <- ev) {
      val views = es.filter(_._2 == "view").map(_._3)
      if (views.nonEmpty) {
        mv += 1
        val tv = views.min
        val clicks = es.filter(e => e._2 == "click" && e._3 > tv && e._3 <= tv + hourUs).map(_._3)
        if (clicks.nonEmpty) {
          mc += 1
          val tc = clicks.min
          if (es.exists(e => e._2 == "purchase" && e._3 > tc && e._3 <= tc + dayUs)) mp += 1
        }
      }
    }
    assert((nv, nc, np) == ((mv, mc, mp)))
  }

  test("entity_resolution: clusters respect the block keys; entity is the min member") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.entityResolution(spark, dir).collect()
    assert(rows.nonEmpty)
    val blocks = graft.Tables
      .customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long"),
        floor(col("c_acctbal") / 1000.0).cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val byEntity = rows.groupBy(_.getAs[Long]("entity"))
    for ((e, members) <- byEntity) {
      // matching requires equal (nation, band) on every edge, so a
      // connected component can never span block keys
      assert(members.map(m => blocks(m.getAs[Long]("c_custkey"))).distinct.length == 1,
        s"entity $e spans blocking keys")
      assert(members.map(_.getAs[Long]("c_custkey")).min == e, "entity label is not the min member")
      assert(members.forall(_.getAs[Long]("n_members") == members.length.toLong))
      assert(members.length >= 2, "CC output should not contain singletons")
    }
    spark.catalog.clearCache()
  }

  test("format_roundtrip: CSV/JSON/ORC fingerprints identical and parquet-true") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.formatRoundtrip(spark, dir).collect()
    assert(rows.map(_.getAs[String]("format")).sorted.toSeq == Seq("csv", "json", "orc"))
    val fps = rows.map(r =>
      (r.getAs[Long]("n"), r.getAs[Long]("checksum"), r.getAs[Long]("sum_cents"))).distinct
    assert(fps.length == 1, s"formats disagree: ${rows.mkString(", ")}")
    // and the shared fingerprint equals the parquet-side truth
    val truth = graft.Tables
      .events(spark, dir)
      .filter(col("event_id") % 10 === 0)
      .agg(
        count(lit(1)),
        sum(col("event_id") * 31 + col("user_id") * 7 + round(col("value") * 100).cast("long")),
        sum(round(col("value") * 100).cast("long")))
      .collect()
      .head
    assert(fps.head == ((truth.getLong(0), truth.getLong(1), truth.getLong(2))))
  }

  test("window_funcs: per-user analytics match a driver-side model") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.windowFuncs(spark, dir).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    for ((_, rs) <- byUser.take(20)) {
      val sorted = rs.sortBy(_.getAs[Long]("event_id"))
      val n = sorted.length
      for ((r, i) <- sorted.zipWithIndex) {
        if (i > 0) {
          assert(r.getAs[Long]("prev_cents") == sorted(i - 1).getAs[Long]("cents"))
          assert(r.getAs[Long]("delta") ==
            r.getAs[Long]("cents") - sorted(i - 1).getAs[Long]("cents"))
        } else assert(r.isNullAt(r.fieldIndex("prev_cents")))
        if (i < n - 1)
          assert(r.getAs[Long]("next_cents") == sorted(i + 1).getAs[Long]("cents"))
        val pr = if (n == 1) 0.0 else i.toDouble / (n - 1).toDouble
        assert(math.abs(r.getAs[Double]("pr") - pr) < 1e-8)
        assert(math.abs(r.getAs[Double]("cd") - (i + 1).toDouble / n.toDouble) < 1e-8)
        assert(r.getAs[Long]("run_max") ==
          sorted.take(i + 1).map(_.getAs[Long]("cents")).max)
      }
      // quartiles are equi-depth within ±1 and monotone in event order
      val q = sorted.map(_.getAs[Long]("quartile"))
      assert(q.sliding(2).forall { case Array(x, y) => x <= y; case _ => true })
      val counts = q.groupBy(identity).values.map(_.size)
      assert(counts.max - counts.min <= 1)
    }
  }

  test("kalman_filter: fold matches a driver-side predict/update recurrence") {
    import org.apache.spark.sql.functions._
    val rows = SignalQueries.kalmanFilter(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = graft.Tables
      .events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"), count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"),
        round(col("cents").cast("double") / (col("cnt").cast("double") * 100.0), 6).as("dm"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    for (r <- rows) {
      val xs = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      assert(r.getAs[Long]("n_days") == xs.length)
      var x = xs(0)
      var p = 1.0
      for (t <- 1 until xs.length) {
        val pp = p + 0.25
        val k = pp / (pp + 2.0)
        x = x + k * (xs(t) - x)
        p = (1.0 - k) * pp
      }
      assert(math.abs(r.getAs[Double]("xhat") - x) < 1e-6, r.toString)
      assert(math.abs(r.getAs[Double]("p_var") - p) < 1e-8, r.toString)
      val gain = (p + 0.25) / (p + 0.25 + 2.0)
      assert(math.abs(r.getAs[Double]("gain") - gain) < 1e-8, r.toString)
      // posterior variance contracts below the prior and stays positive
      assert(p > 0 && p < 1.0)
    }
  }

  test("autocorrelation: matches a driver-side model; acf bounded; lag-0 excluded") {
    import org.apache.spark.sql.functions._
    val rows = SignalQueries.autocorrelation(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = graft.Tables
      .events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"), count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"),
        round(col("cents").cast("double") / (col("cnt").cast("double") * 100.0), 6).as("dm"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    for (r <- rows) {
      val xs = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime).map(_._3)
      val lag = r.getAs[Long]("lag").toInt
      assert(lag >= 1 && lag <= 7)
      val mu = BigDecimal(xs.sum / xs.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val den = xs.map(x => (x - mu) * (x - mu)).sum
      val num = (0 until xs.length - lag).map(t => (xs(t) - mu) * (xs(t + lag) - mu)).sum
      assert(math.abs(r.getAs[Double]("acf") - num / den) < 1e-5, r.toString)
      assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9)
    }
  }

  test("cusum_changepoint: fold matches a driver-side model per type") {
    import org.apache.spark.sql.functions._
    val rows = SignalQueries.cusumChangepoint(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = graft.Tables
      .events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"), count(lit(1)).as("cnt"))
      .select(col("event_type"), col("day"),
        round(col("cents").cast("double") / (col("cnt").cast("double") * 100.0), 6).as("dm"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    for (r <- rows) {
      val series = daily.filter(_._1 == r.getString(0)).sortBy(_._2.getTime)
      assert(r.getAs[Long]("n_days") == series.length)
      val mu = BigDecimal(series.map(_._3).sum / series.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var acc = 0.0
      var best = -1.0
      var bestDay: java.sql.Timestamp = null
      for ((_, day, dm) <- series) {
        acc += dm - mu
        if (math.abs(acc) > best + 1e-12) { best = math.abs(acc); bestDay = day }
      }
      assert(math.abs(r.getAs[Double]("max_cusum") - best) < 1e-6, r.toString)
      assert(r.getAs[java.sql.Timestamp]("change_day") == bestDay, r.toString)
    }
  }

  test("stream_enrich: drained stream-static join equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries
      .streamEnrich(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val batch = graft.Tables
      .events(spark, dir)
      .join(
        graft.Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") + 1 === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(streamed.keySet == batch.keySet)
    for ((k, (n, sv)) <- batch) {
      assert(streamed(k)._1 == n, s"segment $k count")
      assert(math.abs(streamed(k)._2 - sv) < 1e-6, s"segment $k sum")
    }
  }

  test("stream_heavy_hitters: drained top-3 equals the batch ranking") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries
      .streamHeavyHitters(spark, dir)
      .collect()
      .map(r => (r.getAs[Any]("day").toString, r.getAs[Long]("user_id"),
        r.getAs[Long]("rank")) -> r.getAs[Long]("n"))
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("n").desc, col("user_id"))
    val batch = graft.Tables
      .events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .collect()
      .map(r => (r.getAs[Any]("day").toString, r.getAs[Long]("user_id"),
        r.getAs[Long]("rank")) -> r.getAs[Long]("n"))
      .toMap
    assert(streamed == batch)
  }

  test("drains without another tier-1 lock equal their batch twins") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    def ev = graft.Tables.events(spark, dir).withColumn("ts", col("ts").cast("timestamp"))
    def views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    def clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    def cents = ev.select(
      to_date(col("ts")).as("event_date"), round(col("value") * 100).cast("long").as("cents"))
    def daily = cents.groupBy(col("event_date")).agg(count(lit(1)).as("c"))
    val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("stream_windowed_counts",
        () => StreamingQueries.streamWindowedCounts(spark, dir),
        () => ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))),
      ("stream_session_window",
        () => StreamingQueries.streamSessionWindow(spark, dir),
        () => RelationalQueries.sessionWindow(spark, dir)),
      ("stream_running_totals",
        () => StreamingQueries.streamRunningTotals(spark, dir),
        () => ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_event_id"))),
      ("stream_outer_join",
        () => StreamingQueries.streamOuterJoin(spark, dir),
        () => views
          .join(clicks,
            col("user_id") === col("click_user") &&
              col("click_ts") >= col("view_ts") &&
              col("click_ts") <= col("view_ts") + expr("INTERVAL 60 MINUTES"),
            "left")
          .select(col("user_id"), col("view_id"), col("click_id"),
            col("click_id").isNotNull.as("converted"),
            (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))),
      ("stream_bitmap_distinct",
        () => StreamingQueries.streamBitmapDistinct(spark, dir),
        () => SketchQueries.bitmapDistinct(spark, dir)),
      ("partition_pruned_join",
        () => RelationalQueries.partitionPrunedJoin(spark, dir),
        () => {
          val thr = daily.agg(avg(col("c"))).first().getDouble(0) * 1.05
          cents.join(daily.filter(col("c") > thr).select(col("event_date")), "event_date")
            .groupBy(col("event_date"))
            .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
        }))
    // rows as strings in the drained table's column order, doubles at
    // 1e-6; sessionWindow keeps TIMESTAMP_NTZ where the drains cast to
    // TIMESTAMP (same wall clock under UTC)
    def rows(df: DataFrame, columns: Seq[String]): Seq[String] =
      df.select(columns.map(col): _*).collect().toSeq.map(_.toSeq.map {
        case d: Double => f"$d%.6f"
        case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t).toString
        case v => String.valueOf(v)
      }.mkString("|")).sorted
    for ((name, drained, twin) <- cases) {
      val d = drained()
      val got = rows(d, d.columns.toSeq)
      assert(got.nonEmpty, s"$name drained nothing")
      assert(got == rows(twin(), d.columns.toSeq), name)
    }
  }

  test("skyline: matches the brute-force Pareto frontier") {
    val sky = CurationQueries
      .skylineDocs(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"), r.getAs[Double]("score")))
    // brute-force model over the same (len, rounded score) points
    val all = CurationQueries
      .skylineAllPoints(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"), r.getAs[Double]("score")))
    val expected = all.filter { case (id, len, sc) =>
      !all.exists { case (id2, len2, sc2) =>
        id2 != id && ((len2 < len && sc2 >= sc) || (len2 <= len && sc2 > sc))
      }
    }
    assert(sky.sortBy(_._1).toSeq == expected.sortBy(_._1).toSeq)
    assert(sky.nonEmpty)
  }

  test("overlap join: binned rewrite == naive O(n²) overlap model on sf0.001") {
    val got = RelationalQueries
      .overlapJoin(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("l_suppkey"), (r.getAs[Long]("n_pairs"), r.getAs[Long]("overlap_days"))))
      .toMap
    // brute-force model straight off the interval definition
    val iv = graft.Tables
      .lineitem(spark, dir)
      .selectExpr(
        "l_suppkey",
        "l_orderkey * 10 + l_linenumber AS id",
        "CAST(to_date(l_shipdate) AS DATE) AS s",
        "date_add(to_date(l_shipdate), CAST(1 + l_orderkey % 14 AS INT)) AS e")
      .collect()
      .map(r =>
        (r.getAs[Long]("l_suppkey"), r.getAs[Long]("id"),
          r.getAs[java.sql.Date]("s").toLocalDate.toEpochDay,
          r.getAs[java.sql.Date]("e").toLocalDate.toEpochDay))
    val expect = iv
      .groupBy(_._1)
      .flatMap { case (supp, rows) =>
        val pairs = for {
          a <- rows; b <- rows
          if a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
        } yield math.min(a._4, b._4) - math.max(a._3, b._3) + 1
        if (pairs.isEmpty) None
        else Some(supp -> (pairs.size.toLong, pairs.sum))
      }
    assert(got == expect.toMap)
    assert(got.nonEmpty)
  }

  test("weighted quantiles: bucketed plan == naive sorted cumulative model") {
    val got = RelationalQueries
      .weightedQuantiles(spark, dir)
      .collect()
      .map(r =>
        r.getAs[String]("l_returnflag") ->
          (r.getAs[Double]("w_p25"), r.getAs[Double]("w_median"), r.getAs[Double]("w_p75"),
            r.getAs[Long]("total_weight")))
      .toMap
    val rows = graft.Tables
      .lineitem(spark, dir)
      .selectExpr("l_returnflag", "l_extendedprice", "CAST(l_quantity AS BIGINT) AS wt")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val expect = rows.groupBy(_._1).map { case (flag, rs) =>
      val byV = rs.groupBy(_._2).map { case (v, g) => (v, g.map(_._3).sum) }.toSeq.sortBy(_._1)
      val tw = byV.map(_._2).sum
      def lowerQ(a: Long, b: Long): Double = {
        var cum = 0L
        byV.find { case (_, w) => cum += w; b * cum >= a * tw }.get._1
      }
      flag -> (lowerQ(1, 4), lowerQ(1, 2), lowerQ(3, 4), tw)
    }
    assert(got == expect)
  }

  test("weighted quantiles: bucket-count invariance (4 buckets == 256 buckets)") {
    val a = RelationalQueries.weightedQuantiles(spark, dir, nBuckets = 256).collect()
    val b = RelationalQueries.weightedQuantiles(spark, dir, nBuckets = 4).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    assert(key(a) == key(b))
  }

  test("interpolation: observed days pass through; gap days are exactly linear") {
    val out = RelationalQueries
      .interpolateSeries(spark, dir)
      .collect()
      .map(r =>
        (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay,
          r.getAs[Boolean]("is_obs"), r.getAs[Double]("value_filled")))
    assert(out.nonEmpty)
    val gaps = out.count(!_._3)
    assert(gaps > 0, "fixture must contain real gaps or the operator is untested")
    for ((typ, series) <- out.groupBy(_._1)) {
      val sorted = series.sortBy(_._2)
      // grid is contiguous and ends on observations
      assert(sorted.head._3 && sorted.last._3, typ)
      assert(sorted.sliding(2).forall { case Array(a, b) => b._2 - a._2 == 1 }, typ)
      val obsDays = sorted.filter(_._3).map(s => s._2 -> s._4)
      for (g <- sorted.filterNot(_._3)) {
        val (pd, pv) = obsDays.filter(_._1 < g._2).maxBy(_._1)
        val (nd, nv) = obsDays.filter(_._1 > g._2).minBy(_._1)
        val expect = BigDecimal(pv + (nv - pv) * ((g._2 - pd).toDouble / (nd - pd).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(g._4 - expect) < 1e-9, s"$typ day ${g._2}")
      }
    }
  }

  test("incremental join: cut-point invariance — every delta split lands on the full join") {
    def collectMap(cut: String) = RelationalQueries
      .incrementalJoin(spark, dir, cut)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_pairs_incr"), r.getAs[Long]("checksum_incr"),
          r.getAs[Long]("n_pairs_full"), r.getAs[Long]("checksum_full")))
      .toMap
    // three cuts: mid-range (real deltas both sides), everything-old
    // (empty deltas), everything-delta (empty stored view)
    val mids = collectMap("2024-01-16")
    assert(mids.nonEmpty)
    mids.values.foreach { case (ni, ci, nf, cf) => assert(ni == nf && ci == cf) }
    for (cut <- Seq("2030-01-01", "2000-01-01")) {
      val m = collectMap(cut)
      assert(m == mids, s"cut $cut diverged")
    }
    spark.catalog.clearCache()
  }

  test("fuzzy candidates: exact vs brute force on a varied-length corpus (indel legs)") {
    // the fixture's names are all one length, so the depth-2 deletion
    // legs never fire there — exercise them against brute-force lev on
    // a corpus with lengths differing by 0/1/2 and every edit type:
    // substitutions, pure deletions, deletion+substitution, ins+del
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcde"
    val base = (0 until 120).map { i =>
      val len = 6 + rnd.nextInt(5)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++
      // 1-3 char names: shorter than the class count, so some pigeonhole
      // classes are EMPTY — the generator must key them on empty class
      // chars, not crash enumerating positions (the sequence(i+1, len, 3)
      // regression: 'Illegal sequence boundaries' for len < 3)
      Seq("a", "b", "ab", "ba", "cd", "abc", "abd", "ce")
    val mutated = base.zipWithIndex.map { case (nm, i) =>
      val ops = i % 5
      val b = new StringBuilder(nm)
      ops match {
        case 1 => b.setCharAt(rnd.nextInt(b.length), 'z') // 1 sub
        case 2 => // 2 subs
          b.setCharAt(0, 'z'); b.setCharAt(b.length - 1, 'y')
        case 3 if b.length > 1 => b.deleteCharAt(rnd.nextInt(b.length)) // 1 del
        case 4 if b.length > 1 => // del + sub
          b.deleteCharAt(rnd.nextInt(b.length))
          b.setCharAt(rnd.nextInt(b.length), 'z')
        case _ => ()
      }
      b.toString
    }
    val names = (base ++ mutated).zipWithIndex
      .map { case (nm, i) => (i.toLong, nm, (i % 3).toLong) }
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy-spec").toString
    spark
      .createDataFrame(names)
      .toDF("c_custkey", "c_name", "c_nationkey")
      .withColumn("c_acctbal", lit(0.0))
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val got = RelationalQueries
      .fuzzyMatch(spark, tmp)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      a <- names; b <- names
      if a._1 < b._1 && a._3 == b._3
      d = lev(a._2, b._2) if d <= 2
    } yield (a._1, b._1, d.toLong)).toSet
    assert(expect.nonEmpty, "fixture produced no close pairs — weak test")
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("overlap join: pair-dedup bin condition is exact for bin-width variants") {
    // shrink the bin so intervals span MANY bins — the greatest-start
    // condition must still count each overlapping pair exactly once
    val wide = RelationalQueries.overlapJoin(spark, dir, binDays = 16).collect()
    val narrow = RelationalQueries.overlapJoin(spark, dir, binDays = 3).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(key(wide) == key(narrow))
  }
}
