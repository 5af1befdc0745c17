package graft

import org.apache.spark.sql.functions._
import graft.functions.Dec.cents2
import graft.operators.Aggregates
import graft.sources.Tables

/** Semantics pins for aggregate-surface queries beyond what the oracle's
  * value equality spells out.
  */
class AggregatesSpec extends SparkTestBase {

  test("agg_quantile_disc: nearest-rank picks are corpus ELEMENTS and match brute force") {
    val rows = Aggregates.aggQuantileDisc(spark, sf).collect()
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.map(_.getString(0)).toSet === data.keySet)
    rows.foreach { r =>
      val vals = data(r.getString(0))
      val n = vals.length
      assert(r.getLong(4) === n.toLong)
      def nearestRank(p: Double): Double = vals(math.ceil(n * p).toInt - 1)
      assert(r.getDouble(1) === nearestRank(0.25), "p25")
      assert(r.getDouble(2) === nearestRank(0.5), "median")
      assert(r.getDouble(3) === nearestRank(0.9), "p90")
      // discreteness: every pick is an actual element of the group
      assert(Seq(1, 2, 3).forall(i => vals.contains(r.getDouble(i))),
        "discrete percentiles must be member elements, never interpolations")
    }
  }

  test("agg_argmax: selected rows are the unique (value, event_id)-max/min per group") {
    val rows = Aggregates.aggArgmax(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet === ev.keySet)
    rows.foreach { r =>
      val g = ev(r.getString(0))
      // lexicographic (value, event_id) extremes — the documented tie-break
      val top = g.maxBy(t => (t._3, t._2))
      val bot = g.minBy(t => (t._3, t._2))
      assert(r.getLong(1) === top._2 && r.getDouble(2) === top._3, "argmax")
      assert(r.getLong(3) === bot._2 && r.getDouble(4) === bot._3, "argmin")
      assert(r.getLong(5) === g.size.toLong)
    }
  }

  test("agg_corr_matrix: matches Spark's native corr, bounded, symmetric inputs") {
    val r = Aggregates.aggCorrMatrix(spark, sf).collect().head
    val corrs = (1 to 6).map(r.getDouble)
    corrs.foreach(c => assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9,
      s"correlation out of [-1,1]: $c"))
    // cross-check every pair against Spark's built-in (co-moment) corr
    val li = Tables.lineitem(spark, sf)
    val pairs = Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
      ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
      ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val native = li.agg(corr(col(a), col(b))).collect().head.getDouble(0)
      assert(math.abs(corrs(i) - native) < 1e-6,
        s"corr($a,$b): exact-sum ${corrs(i)} vs native $native")
    }
  }

  test("agg_weighted_median: smallest price reaching half the unit weight") {
    val rows = Aggregates.aggWeightedMedian(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        math.round(r.getDouble(2) * 100)))
      .groupBy(_._1)
    assert(rows.keySet === li.keySet)
    li.foreach { case (flag, ls) =>
      val total = ls.map(_._3).sum
      val sorted = ls.sortBy(_._2)
      var cum = 0L
      val wm = sorted.find { l => cum += l._3; cum * 2 >= total }.get._2
      assert(rows(flag)._1 === total, s"$flag total weight")
      assert(rows(flag)._2 === wm, s"$flag weighted median")
      // the weighted median differs from the naive unweighted one in
      // general; at minimum it must be a member price
      assert(ls.exists(_._2 === rows(flag)._2), "median is a member element")
    }
  }

  test("agg_hhi: concentration bounds 10000/n <= hhi <= 10000, revenue conserved") {
    val rows = Aggregates.aggHhi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hhi) = (r.getLong(1), r.getDouble(3))
      assert(hhi >= 10000.0 / n - 1e-6, "lower bound: perfectly even split")
      assert(hhi <= 10000.0 + 1e-6, "upper bound: monopoly")
    }
    val totalRev = rows.map(_.getDouble(2)).sum
    val expect = Tables.orders(spark, sf)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).collect()
      .head.getDecimal(0).doubleValue
    assert(math.abs(totalRev - expect) < 0.05,
      "segment revenues sum to the corpus total")
  }

  test("agg_corr_matrix plans as ONE aggregate pass — no join, no window") {
    val plan = planOf(Aggregates.aggCorrMatrix(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"six correlations from one scan:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"one lineitem scan, got $scans")
  }

  test("agg_argmax plans as ONE 2-phase aggregate — no window, no join-back") {
    val plan = planOf(Aggregates.aggArgmax(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"max_by must not expand to window/self-join:\n$plan")
    val hash = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hash === 1, s"one group-by shuffle, got $hash")
  }

  test("agg_quantile_disc: ONE window shuffle, no per-group collect") {
    val plan = planOf(Aggregates.aggQuantileDisc(spark, sf))
      .split("== Initial Plan ==").head
    val hash = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hash === 1,
      s"rank window and final aggregate share the group key, got $hash:\n$plan")
    assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
      "selection must be rank-conditional aggregation, not materialized lists")
  }

  test("agg_theil: brute-force per-segment Theil-T; nonnegativity (Jensen)") {
    val rows = Aggregates.aggTheil(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val perCust = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .collect().map(r => (r.getString(0), r.getDecimal(2).doubleValue()))
    val bySeg = perCust.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { case (seg, n, revenue, theil) =>
      val xs = bySeg(seg)
      assert(n === xs.length.toLong, s"$seg customer count")
      assert(math.abs(revenue - xs.sum) < 0.5, s"$seg revenue ${xs.sum}")
      val mu = xs.sum / xs.length
      val brute = xs.map(x => (x / mu) * math.log(x / mu)).sum / xs.length
      assert(math.abs(theil - brute) < 1e-6, s"$seg theil $theil vs $brute")
      assert(theil >= -1e-12, s"$seg Theil-T is nonnegative by Jensen")
    }
  }

  test("agg_trimmed_mean: brute-force rank trim with ties; robustness order") {
    val rows = Aggregates.aggTrimmedMean(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val prices = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val byFlag = prices.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { case (flag, n, lo, tm) =>
      val xs = byFlag(flag)
      assert(n === xs.length.toLong)
      assert(lo === xs.length / 10, s"$flag trim count")
      val kept = xs.slice(lo.toInt, xs.length - lo.toInt)
      val brute = (kept.sum / kept.length).toDouble
      assert(math.abs(tm - brute) < 1e-5, s"$flag trimmed mean $tm vs $brute")
      // trimming drops mass from both tails: mean of kept is between
      // the dropped tails' extremes
      assert(tm >= xs.head.toDouble && tm <= xs.last.toDouble)
    }
  }

  private val deciles = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** The decile cuts straight off the sorted cents: for h = q·(N−1),
    * the value at index floor(h), moved frac = h − floor(h) of the way
    * to the next value when there is one.
    */
  private def bruteCuts(cents: Array[Long]): Seq[Double] = {
    val v = cents.sorted
    deciles.map { q =>
      val h = q * (v.length - 1).toDouble
      val i = math.floor(h).toInt
      val frac = h - math.floor(h)
      val lo = v(i).toDouble / 100.0
      if (frac == 0.0 || i + 1 >= v.length) lo
      else lo + frac * (v(i + 1).toDouble / 100.0 - lo)
    }
  }

  /** The cuts as the build computes them: the $100-bucket histogram,
    * then the per-cent refine of the buckets it asks for.
    */
  private def driverCuts(cents: Array[Long]): Seq[Double] = {
    def counts(xs: Array[Long], key: Long => Long) =
      xs.groupBy(key).map { case (k, g) => (k, g.length.toLong) }.toSeq
    val hist = counts(cents, _ / 10000)
    val need = Aggregates.equidepthBuckets(hist).toSet
    Aggregates.equidepthCuts(hist, counts(cents.filter(c => need(c / 10000)), identity))
  }

  test("agg_equidepth: driver-side cuts equal brute-force cuts bit for bit") {
    val rnd = new scala.util.Random(7)
    def shuffled(xs: Seq[Long]) = rnd.shuffle(xs).toArray
    val cases = Seq(1, 2, 10, 11, 1000).map(n =>
      s"N=$n" -> Array.fill(n)(100L + rnd.nextInt(300000))) ++ Seq(
      "all prices equal" -> Array.fill(50)(12345L),
      "ties across a cut" -> shuffled((0 until 100).map(i => 5000L + (i / 7) * 3)),
      // q = 0.1 reads indexes 99 and 100: 199.99, the last cent of
      // bucket 1, interpolated toward bucket 2
      "target on a bucket's last cent" -> shuffled((0 until 1000).map(i =>
        if (i <= 99) 19900L + i else 20000L + i)),
      "99.99 against 100.00" -> shuffled((0 until 1000).map(i =>
        if (i <= 99) 9900L + i else 10000L + i - 100)))
    cases.foreach { case (label, cents) =>
      val (got, want) = (driverCuts(cents), bruteCuts(cents))
      assert(got == want, s"$label: $got vs $want")
    }
    // past the last rank (N = 1) the cut is the one value, frac 0
    assert(Aggregates.equidepthRanks(1) == deciles.map(_ => (1L, None, 0.0)))
    assert(Aggregates.equidepthBuckets(Nil).isEmpty)
    assert(Aggregates.equidepthCuts(Nil, Nil).isEmpty)
  }

  test("agg_equidepth: the histogram the driver collects is capped at 10^6 buckets") {
    val atBound = Array.tabulate(Aggregates.EquidepthMaxBuckets)(b => (b.toLong, 1L))
    assert(Aggregates.equidepthBuckets(atBound.toSeq).nonEmpty)
    val e = intercept[IllegalArgumentException](
      Aggregates.equidepthBuckets((atBound :+ ((-1L, 1L))).toSeq))
    assert(e.getMessage.contains("1000000") && e.getMessage.contains("o_totalprice"),
      e.getMessage)
  }

  test("agg_equidepth: the statistic builds in at most 7 jobs, then serves with none") {
    // a fresh copy of orders: a new fingerprint, so this call builds
    val dir = tempDir("graft_equidepth_")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      dir.resolve("orders.parquet"))
    val (first, built) = jobsOf(Aggregates.aggEquidepth(spark, dir.toString))
    // one job resolves the copy's parquet schema, two run each aggregate
    assert(built <= 7, s"the build started $built jobs")
    val (again, served) = jobsOf(Aggregates.aggEquidepth(spark, dir.toString).collect())
    assert(served == 0, s"serving the built statistic started $served jobs")
    // the bins agree with brute-force binning at the brute-force cuts
    val cents = Tables.orders(spark, dir.toString)
      .select(cents2(col("o_totalprice"))).collect().map(_.getLong(0))
    val cuts = bruteCuts(cents)
    val want = cents.map(_.toDouble / 100.0).groupBy(p => 1L + cuts.count(p > _))
      .toSeq.sortBy(_._1).map { case (b, ps) => (b, ps.length.toLong, ps.min, ps.max) }
    Seq(first.collect(), again).foreach(rows => assert(rows.toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))) == want))
  }
}
