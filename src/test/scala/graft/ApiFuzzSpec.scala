package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** Seeded generator-driven API fuzzing (r11 verdict item 5): the SQL
  * fuzzer covers the dialect; the remaining no-oracle risk is
  * input-SHAPE edge cases in the public GraftOps surface — empty
  * inputs, single rows, all-null columns, single-row strata, empty
  * strings, unicode, ties. Each family here runs on fresh seeded
  * random small inputs (3 seeds per function, edge shapes injected)
  * and is compared against an in-memory brute-force reference in
  * plain Scala collections — an implementation with NO shared code or
  * shared engine with the Spark path.
  */
class ApiFuzzSpec extends SparkTestBase {

  // default seeds pin the suite; override for deeper ad-hoc soaks:
  //   sbt -Dgraft.fuzz.seeds=1,2,3,...  "testOnly graft.ApiFuzzSpec"
  private val seeds = sys.props.get("graft.fuzz.seeds")
    .map(_.split(",").toSeq.map(_.trim.toLong))
    .getOrElse(Seq(13L, 101L, 7777L))
  private def forSeeds(f: scala.util.Random => Unit): Unit =
    seeds.foreach(s => f(new scala.util.Random(s)))

  private lazy val sp = spark
  import sp.implicits._

  // ---- generators ------------------------------------------------------

  private val vocab = Vector("a", "bb", "ccc", "héllo", "日本", "x1",
    "Zz", "0", "the", "q")
  private def rndText(rnd: scala.util.Random, maxTok: Int = 12): String = {
    val n = rnd.nextInt(maxTok + 1)
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }
  /** split-semantics twin of GraftOps.tokens (split(text, " ") keeps
    * empty strings, including the [""] of an empty text)
    */
  private def tok(s: String): Vector[String] = s.split(" ", -1).toVector
  private def rndVec(rnd: scala.util.Random, d: Int): Seq[Float] =
    Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)

  // ---- text primitives -------------------------------------------------

  test("fuzz tokens: split semantics incl. empty text") {
    forSeeds { rnd =>
      val texts = Seq.fill(20)(rndText(rnd)) :+ "" :+ "a"
      val got = texts.toDF("t").select(GraftOps.tokens(col("t")))
        .collect().map(_.getSeq[String](0).toVector)
      assert(got.toSeq === texts.map(tok))
    }
  }

  private def bruteShingles(toks: Vector[String], k: Int): Vector[String] = {
    val n = toks.length
    val grams =
      if (n == 0) Vector.empty
      else if (n < k) Vector(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toVector
    grams.distinct
  }

  test("fuzz shingles: k-grams with short-input degradation, distinct") {
    forSeeds { rnd =>
      for (k <- Seq(2, 3, 5)) {
        val texts = Seq.fill(15)(rndText(rnd)) ++ Seq("", "a", "a b")
        val got = texts.toDF("t")
          .select(GraftOps.shingles(GraftOps.tokens(col("t")), k))
          .collect().map(_.getSeq[String](0).toVector)
        assert(got.toSeq === texts.map(t => bruteShingles(tok(t), k)),
          s"k=$k")
      }
    }
  }

  test("fuzz ngramJaccard vs brute set jaccard") {
    forSeeds { rnd =>
      val pairs = Seq.fill(20)((rndText(rnd, 8), rndText(rnd, 8)))
      val got = pairs.toDF("a", "b")
        .select(GraftOps.ngramJaccard(col("a"), col("b"), 3))
        .collect().map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      pairs.zip(got).foreach { case ((a, b), g) =>
        val (sa, sb) = (bruteShingles(tok(a), 3).toSet, bruteShingles(tok(b), 3).toSet)
        val u = (sa ++ sb).size
        if (u == 0) assert(g.isNaN)
        else assert(math.abs(g - sa.intersect(sb).size.toDouble / u) < 1e-12,
          s"'$a' vs '$b'")
      }
    }
  }

  test("fuzz redact vs Scala replaceAll chain") {
    val pats = Seq("[0-9]+" -> "<NUM>", "[A-Z]{2,}" -> "<UP>")
    forSeeds { rnd =>
      val texts = Seq.fill(20)(
        Seq.fill(rnd.nextInt(8))(rnd.nextInt(4) match {
          case 0 => rnd.nextInt(100000).toString
          case 1 => "ABC" * (1 + rnd.nextInt(2))
          case 2 => vocab(rnd.nextInt(vocab.size))
          case _ => "a1B2"
        }).mkString(" ")) :+ ""
      val got = texts.toDF("t").select(GraftOps.redact(col("t"), pats))
        .collect().map(_.getString(0))
      val exp = texts.map(t => pats.foldLeft(t) { case (s, (p, r)) =>
        s.replaceAll(p, r) })
      assert(got.toSeq === exp)
    }
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzz fuzzyDupPairs vs brute blocked Levenshtein") {
    forSeeds { rnd =>
      val rows = (0 until 18).map(i =>
        (i.toLong, rndText(rnd, 5), s"blk${rnd.nextInt(3)}"))
      val got = GraftOps.fuzzyDupPairs(rows.toDF("id", "text", "blk"),
          "id", "text", col("blk"), maxRel = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
          r.getBoolean(5))).toSet
      val exp = (for {
        (ia, ta, ba) <- rows; (ib, tb, bb) <- rows
        if ba == bb && ia < ib
      } yield {
        val l = lev(ta, tb)
        (ia, ib, l.toLong,
          l.toDouble / math.max(1, math.max(ta.length, tb.length)) <= 0.4)
      }).toSet
      assert(got === exp)
    }
  }

  test("fuzz sharedFingerprintIds vs brute any-overlap") {
    forSeeds { rnd =>
      val rows = (0 until 20).map(i =>
        (i.toLong, Seq.fill(rnd.nextInt(5))(rnd.nextInt(12).toLong))) :+
        (20L, Seq.empty[Long])
      val got = GraftOps.sharedFingerprintIds(rows.toDF("id", "fp"),
        "id", "fp").collect().map(_.getLong(0)).toSet
      val exp = rows.filter { case (i, fps) =>
        fps.exists(f => rows.exists { case (j, g) => j != i && g.contains(f) })
      }.map(_._1).toSet
      assert(got === exp)
    }
  }

  test("fuzz contaminatedIds vs brute shingle overlap") {
    forSeeds { rnd =>
      val corpus = (0 until 15).map(i => (i.toLong, rndText(rnd, 10)))
      val probe = (0 until 4).map(i => (100L + i, rndText(rnd, 10)))
      val k = 3
      val got = GraftOps.contaminatedIds(corpus.toDF("id", "text"),
          probe.toDF("id", "text"), "id", "text", k)
        .collect().map(_.getLong(0)).toSet
      val probeGrams = probe.flatMap(p => bruteShingles(tok(p._2), k)).toSet
      val exp = corpus.filter(c =>
        bruteShingles(tok(c._2), k).exists(probeGrams.contains)).map(_._1).toSet
      assert(got === exp)
    }
  }

  test("fuzz chunkWindows vs brute chunking (coverage, tail, no-redundant-chunk)") {
    forSeeds { rnd =>
      val (window, stride) = (6 + rnd.nextInt(4), 3 + rnd.nextInt(3))
      val docs = (0 until 15).map(i => (i.toLong, rndText(rnd, 20))) :+
        (15L, "")
      val got = GraftOps.chunkWindows(docs.toDF("id", "text"), "id", "text",
          window, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      val exp = docs.flatMap { case (id, t) =>
        // split(" ", -1) never yields zero tokens: "" is ONE empty
        // token, so every doc (incl. the empty one) chunks
        val toks = tok(t)
        val n = toks.length
        if (n == 0) Seq.empty
        else {
          val nChunks = math.max(0,
            math.ceil((n - window).toDouble / stride).toInt) + 1
          (0 until nChunks).map { i =>
            val slice = toks.slice(i * stride, math.min(i * stride + window, n))
            // chunk_md5 pins CONTENT, not just offsets: downstream
            // chunk-level dedup/embedding tables key on it
            (id, i.toLong, (i * stride).toLong, slice.length.toLong,
              md5hex(slice.mkString(" ")))
          }
        }
      }.toSet
      assert(got === exp, s"window=$window stride=$stride")
    }
  }

  // ---- dedup -----------------------------------------------------------

  test("fuzz dedupExactStats/Keep vs brute grouping") {
    forSeeds { rnd =>
      val rows = (0 until 25).map(i =>
        (i.toLong, s"g${rnd.nextInt(3)}", rndText(rnd, 3)))
      val df = rows.toDF("id", "g", "text")
      val stats = GraftOps.dedupExactStats(df, "text", Seq("g"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val byG = rows.groupBy(_._2)
      byG.foreach { case (g, rs) =>
        assert(stats(g) === ((rs.length.toLong,
          rs.map(_._3).distinct.length.toLong)), s"group $g")
      }
      val kept = GraftOps.dedupExactKeep(df, "text", "id")
        .collect().map(_.getLong(0)).toSet
      val exp = rows.groupBy(_._3).values.map(_.map(_._1).min).toSet
      assert(kept === exp)
    }
  }

  // ---- vectors ---------------------------------------------------------

  private def bruteCos(a: Seq[Float], b: Seq[Float]): Double = {
    val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
      case ((d, x, y), (p, q)) =>
        (d + p.toDouble * q, x + p.toDouble * p, y + q.toDouble * q)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("fuzz cosineTopK / cosineRange / knnJoin vs brute cosine ranking") {
    forSeeds { rnd =>
      val d = 6 + rnd.nextInt(5)
      val vecs = (0 until 20).map(i => (i.toLong, rndVec(rnd, d)))
      val df = vecs.toDF("id", "v")
      val sims = vecs.tail.map { case (i, v) =>
        (i, BigDecimal(bruteCos(vecs.head._2, v))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val k = 1 + rnd.nextInt(6)
      val topk = GraftOps.cosineTopK(df, "id", "v", probeId = 0L, k = k)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val expTopk = sims.sortBy { case (i, s) => (-s, i) }.take(k)
      assert(topk.toSeq === expTopk, s"topk d=$d k=$k")
      val tau = 0.1 + rnd.nextDouble() * 0.4
      val rng = GraftOps.cosineRange(df, "id", "v", probeId = 0L, tau = tau)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rng.toSeq === sims.filter(_._2 >= tau)
        .sortBy { case (i, s) => (-s, i) }, f"range tau=$tau%.3f")
      val probes = vecs.take(3).toDF("id", "v")
      val kj = GraftOps.knnJoin(df, probes, "id", "v", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expKj = vecs.take(3).flatMap { case (p, pv) =>
        vecs.map { case (i, v) =>
          (p, i, BigDecimal(bruteCos(pv, v))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.sortBy { case (_, i, s) => (-s, i) }.take(3).map(t => (p, t._2))
      }.toSet
      assert(kj === expKj)
    }
  }

  test("fuzz quantizeInt8 round-trip error bound and zero-vector edge") {
    forSeeds { rnd =>
      val d = 8
      val vecs = (0 until 12).map(i => (i.toLong, rndVec(rnd, d))) :+
        (12L, Seq.fill(d)(0.0f))
      val got = vecs.toDF("id", "v")
        .select(col("id"), col("v"),
          GraftOps.dequantizeInt8(GraftOps.quantizeInt8(col("v"))).as("rt"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getSeq[Float](2)))
      got.foreach { case (id, v, rt) =>
        val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
        v.zip(rt).foreach { case (x, y) =>
          assert(math.abs(x - y) <= scale / 2 + 1e-7,
            s"id=$id: $x vs $y (scale $scale)")
        }
      }
    }
  }

  // ---- layout codes ----------------------------------------------------

  test("fuzz mortonCode vs brute bit interleave") {
    forSeeds { rnd =>
      val pts = Seq.fill(30)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      val got = pts.toDF("a", "b")
        .select(GraftOps.mortonCode(col("a"), col("b"), 8))
        .collect().map(_.getLong(0))
      val exp = pts.map { case (a, b) =>
        (0 until 8).foldLeft(0L)((acc, i) =>
          acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
      }
      assert(got.toSeq === exp)
    }
  }

  test("fuzz hilbertCode: bijective on the grid, unit-step adjacent") {
    val bits = 3
    val grid = for (a <- 0 until 8; b <- 0 until 8) yield (a.toLong, b.toLong)
    val rows = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        GraftOps.hilbertCode(col("a"), col("b"), bits).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.values.toSeq.sorted === (0L until 64L), "bijection onto [0,64)")
    // the defining Hilbert property: consecutive codes are grid neighbors
    val byCode = rows.map(_.swap)
    (0L until 63L).foreach { c =>
      val (a1, b1) = byCode(c); val (a2, b2) = byCode(c + 1)
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) === 1,
        s"codes $c,${c + 1} not adjacent: ($a1,$b1) -> ($a2,$b2)")
    }
  }

  // ---- rank / prefix machinery ------------------------------------------

  test("fuzz ntileFromRank vs bucket-boundary reference") {
    forSeeds { rnd =>
      for (_ <- 1 to 10) {
        val n = 1 + rnd.nextInt(40)
        val k = 1 + rnd.nextInt(8)
        val got = (1 to n).map(_.toLong).toDF("r")
          .select(GraftOps.ntileFromRank(col("r"), lit(n.toLong), k))
          .collect().map(_.getLong(0))
        // reference: first n%k buckets hold n/k+1 ranks, the rest n/k
        val sizes = Array.tabulate(k)(i =>
          n / k + (if (i < n % k) 1 else 0))
        val cum = sizes.scanLeft(0)(_ + _)
        val exp = (1 to n).map(r => (cum.indexWhere(_ >= r)).toLong)
        assert(got.toSeq === exp, s"n=$n k=$k")
      }
    }
  }

  test("fuzz sortedPrefixSums vs brute sorted cumsum (nulls, ties, tiny shards)") {
    forSeeds { rnd =>
      val rows = (0 until 30).map { i =>
        (i.toLong, rnd.nextInt(6).toLong,
          if (rnd.nextInt(5) == 0) null else Long.box(rnd.nextInt(100) - 50))
      }
      val df = rows.toDF("id", "k", "w")
      val got = GraftOps.sortedPrefixSums(df,
          Seq(col("k"), col("id")), Seq("w"), shards = 4, withTotals = true)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("k"),
          r.getAs[java.lang.Long]("w"), r.getAs[Long]("rnk"),
          r.getAs[java.lang.Long]("cum_w"), r.getAs[Long]("tot_rn"),
          r.getAs[Long]("tot_w")))
        .sortBy(r => (r._2, r._1))
      val sorted = rows.sortBy(r => (r._2, r._1))
      // single-window SQL parity: cum is NULL exactly while the global
      // prefix holds zero non-NULL values; NULLs never reset it later
      var cum = 0L
      var seen = false
      val exp = sorted.zipWithIndex.map { case ((id, k, w), ix) =>
        if (w != null) { cum += w.longValue(); seen = true }
        (id, k, w, ix + 1L, if (seen) Long.box(cum) else null, 0L)
      }
      val totW = rows.flatMap(r => Option(r._3).map(_.longValue())).sum
      got.zip(exp).foreach { case (g, e) =>
        assert((g._1, g._2, g._3) === ((e._1, e._2, e._3)))
        assert(g._4 === e._4, s"rnk of id ${g._1}")
        assert(g._5 === e._5, s"cum_w of id ${g._1}")
        assert(g._6 === rows.length.toLong, "tot_rn")
        assert(g._7 === totW, "tot_w")
      }
    }
  }

  test("fuzz globalPrefixSums vs brute cumsum over sparse keys") {
    forSeeds { rnd =>
      val keys = (0 until 25).map(_ => rnd.nextInt(100000).toLong).distinct
      val rows = keys.map(k => (k, rnd.nextInt(1000).toLong))
      val got = GraftOps.globalPrefixSums(rows.toDF("k", "a"), "k",
          Seq("a"), shardWidth = 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      var cum = 0L
      val exp = rows.sortBy(_._1).map { case (k, a) =>
        cum += a; (k, a, cum)
      }
      assert(got.toSeq === exp)
    }
  }

  test("fuzz packBins vs brute exclusive-prefix binning") {
    forSeeds { rnd =>
      val rows = (0 until 25).map(i =>
        (i.toLong, s"s${rnd.nextInt(3)}", 1L + rnd.nextInt(2000)))
      val budget = 2048L
      val got = GraftOps.packBins(rows.toDF("ord", "shard", "w"),
          "shard", "ord", "w", budget)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      val exp = rows.groupBy(_._2).flatMap { case (shard, rs) =>
        var pre = 0L
        rs.sortBy(_._1).map { case (ord, _, w) =>
          val bin = pre / budget
          pre += w
          (ord, shard, w, bin)
        }
      }.toSet
      assert(got === exp)
    }
  }

  // ---- sampling / splits -------------------------------------------------

  test("fuzz deterministicSample: deterministic, monotone in fraction, exact at 0/1") {
    forSeeds { rnd =>
      val rows = (0 until 40).map(i => (i.toLong, rnd.nextInt(100)))
      val df = rows.toDF("k", "v")
      def ids(f: Double) = GraftOps.deterministicSample(df, "k", f)
        .collect().map(_.getLong(0)).toSet
      assert(ids(0.0).isEmpty && ids(1.0) === rows.map(_._1).toSet)
      val fs = Seq.fill(3)(rnd.nextDouble()).sorted
      val samples = fs.map(ids)
      samples.zip(samples.tail).foreach { case (a, b) =>
        assert(a.subsetOf(b), s"monotone in fraction: $fs")
      }
      assert(ids(fs.head) === ids(fs.head), "deterministic")
    }
  }

  test("fuzz splitAssign: complete, disjoint, deterministic, single-row input") {
    forSeeds { rnd =>
      val bands = Seq("train" -> 0.7, "val" -> 0.15)
      for (n <- Seq(1, 37)) {
        val rows = (0 until n).map(i => (i.toLong + rnd.nextInt(5), i))
        val got = GraftOps.splitAssign(rows.toDF("k", "v"), "k", "split", bands)
          .collect().map(r => (r.getLong(0), r.getString(2)))
        assert(got.length === n)
        assert(got.forall(r => Set("train", "val", "test").contains(r._2)))
        val again = GraftOps.splitAssign(rows.toDF("k", "v"), "k", "split", bands)
          .collect().map(r => (r.getLong(0), r.getString(2)))
        assert(got.toSeq === again.toSeq, "deterministic")
        // same key always lands in the same band
        assert(got.groupBy(_._1).values.forall(_.map(_._2).distinct.length == 1))
      }
    }
  }

  test("fuzz topFractionByScore vs brute percent_rank cut (ties, single-row strata)") {
    forSeeds { rnd =>
      val rows = (0 until 30).map(i =>
        (i.toLong, s"s${rnd.nextInt(4)}", rnd.nextInt(10).toDouble)) :+
        (30L, "lonely", 5.0)
      val f = 0.1 + rnd.nextDouble() * 0.8
      val got = GraftOps.topFractionByScore(rows.toDF("id", "g", "score"),
          "g", "score", f)
        .collect().map(_.getLong(0)).toSet
      val exp = rows.groupBy(_._2).values.flatMap { rs =>
        val desc = rs.sortBy(-_._3)
        val n = rs.length
        desc.zipWithIndex.filter { case ((_, _, s), _) =>
          // percent_rank with RANK tie semantics over score desc
          val rank = desc.indexWhere(_._3 == s)
          n == 1 || rank.toDouble / (n - 1) <= f
        }.map(_._1._1)
      }.toSet
      assert(got === exp, f"fraction $f%.3f")
    }
  }

  // ---- temporal --------------------------------------------------------

  test("fuzz latenessAudit vs brute running high-watermark") {
    forSeeds { rnd =>
      val base = 1700000000000000L
      val rows = (0 until 30).map { i =>
        (s"k${rnd.nextInt(3)}", i.toLong,
          new java.sql.Timestamp((base + rnd.nextInt(100000).toLong * 1000L) / 1000L))
      }
      val got = GraftOps.latenessAudit(rows.toDF("k", "arr", "ts"),
          "k", "arr", "ts")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
        .toSet
      val exp = rows.groupBy(_._1).flatMap { case (k, rs) =>
        var hwm = Long.MinValue
        rs.sortBy(_._2).map { case (_, arr, ts) =>
          val us = ts.getTime * 1000L
          val late = if (hwm == Long.MinValue) 0L else math.max(0L, hwm - us)
          hwm = math.max(hwm, us)
          (k, arr, late)
        }
      }.toSet
      assert(got === exp)
    }
  }

  // ---- graph -----------------------------------------------------------

  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("fuzz connectedComponents vs brute union-find (self-loops, chains)") {
    forSeeds { rnd =>
      val edges = Seq.fill(25)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val got = GraftOps.connectedComponents(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = bruteComponents(edges)
      assert(got === exp)
    }
  }

  test("fuzz triangleCounts vs brute triangle enumeration") {
    forSeeds { rnd =>
      val edges = Seq.fill(30)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
      val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      val got = GraftOps.triangleCounts(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val vs = canon.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = canon.toSet
      def linked(a: Long, b: Long) =
        adj.contains((math.min(a, b), math.max(a, b)))
      val tris = for {
        i <- vs; j <- vs if j > i; k <- vs if k > j
        if linked(i, j) && linked(j, k) && linked(i, k)
      } yield Seq(i, j, k)
      val exp = tris.flatten.groupBy(identity).map { case (v, xs) =>
        v -> xs.length.toLong }
      assert(got.filter(_._2 > 0) === exp)
    }
  }

  test("fuzz pageRank vs brute power iteration") {
    forSeeds { rnd =>
      val nodes = (0 until 10).map(_.toLong)
      val edges = Seq.fill(15)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = GraftOps.pageRank(edges.toDF("s", "d"),
          nodes.toDF("id"), "id", "s", "d", iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // brute: symmetrized multiset edges (matching the impl's unionAll)
      val sym = edges ++ edges.map(e => (e._2, e._1))
      val deg = sym.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
      val n = nodes.length
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 5) {
        val contrib = sym.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
        r = nodes.map(v =>
          v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
      }
      nodes.foreach { v =>
        assert(math.abs(got(v) - r(v)) < 1e-9,
          s"node $v: ${got(v)} vs ${r(v)}")
      }
    }
  }

  test("fuzz keepClusterRepresentativesFromComps vs brute min-per-component") {
    forSeeds { rnd =>
      val rows = (0 until 20).map(i => (i.toLong, rndText(rnd, 3)))
      val edges = Seq.fill(8)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val comps = bruteComponents(edges)
      val compsDf = comps.toSeq.toDF("id", "comp")
      val got = GraftOps.keepClusterRepresentativesFromComps(
          rows.toDF("id", "text"), "id", compsDf)
        .collect().map(_.getLong(0)).toSet
      val repOf = comps.groupBy(_._2).map { case (_, m) => m.keys.min }.toSet
      val exp = rows.map(_._1).filter(i =>
        !comps.contains(i) || repOf.contains(i)).toSet
      assert(got === exp)
    }
  }

  // ---- content-addressed sampling, exact twins ---------------------------

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
  private def keepBrute(key: Long, fraction: Double): Boolean =
    if (fraction >= 1.0) true
    else if (fraction <= 0.0) false
    else md5hex(key.toString).substring(0, 4) <
      f"${math.floor(fraction * 65536).toInt}%04x"

  test("fuzz stratifiedSample vs brute md5-threshold twin (0/1 strata, default rate)") {
    forSeeds { rnd =>
      val rows = (0 until 40).map(i =>
        (rnd.nextInt(100000).toLong, s"s${rnd.nextInt(5)}"))
      val fracs = Map("s0" -> rnd.nextDouble(), "s1" -> 0.0, "s2" -> 1.0)
      val got = GraftOps.stratifiedSample(rows.toDF("k", "g"), "k", "g",
          fracs, default = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val exp = rows.filter { case (k, g) =>
        keepBrute(k, fracs.getOrElse(g, 0.5))
      }.toSet
      assert(got === exp, s"fracs $fracs")
    }
  }

  test("fuzz mixtureSample vs brute rate computation (binding stratum kept whole)") {
    forSeeds { rnd =>
      val rows = (0 until 60).map(i =>
        (rnd.nextInt(1000000).toLong, s"s${rnd.nextInt(4)}")).distinct
      val weights = Map("s0" -> (0.2 + rnd.nextDouble()),
        "s1" -> (0.2 + rnd.nextDouble()), "s2" -> 1.0)
      val got = GraftOps.mixtureSample(rows.toDF("k", "g"), "k", "g", weights)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val inW = rows.filter(r => weights.contains(r._2))
      val n = inW.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
      val t = n.map { case (s, c) => c / weights(s) }.min
      val exp = inW.filter { case (k, g) =>
        val rate = weights(g) * t / n(g)
        rate >= 1.0 - 1e-9 || keepBrute(k, rate)
      }.toSet
      assert(got === exp, s"weights $weights")
      // the binding stratum is kept whole
      val binding = n.minBy { case (s, c) => c / weights(s) }._1
      assert(got.count(_._2 == binding) === inW.count(_._2 == binding))
    }
  }

  test("fuzz weightedPrioritySample vs brute u/w top-k per stratum") {
    forSeeds { rnd =>
      val rows = (0 until 40).map(i =>
        (rnd.nextInt(1000000).toLong, s"s${rnd.nextInt(3)}",
          0.1 + rnd.nextDouble() * 9)).distinct
      val k = 1 + rnd.nextInt(5)
      val got = GraftOps.weightedPrioritySample(rows.toDF("key", "g", "w"),
          "key", "w", Seq("g"), k)
        .collect().map(_.getLong(0)).toSet
      def u(key: Long): Long =
        java.lang.Long.parseLong(md5hex(key.toString).substring(0, 8), 16)
      val exp = rows.groupBy(_._2).values.flatMap { rs =>
        rs.sortBy { case (key, _, w) => (u(key).toDouble / w, key) }
          .take(k).map(_._1)
      }.toSet
      assert(got === exp, s"k=$k")
    }
  }

  // ---- text scoring ------------------------------------------------------

  test("fuzz tfidf vs brute corpus tf-idf") {
    forSeeds { rnd =>
      val docs = (0 until 15).map(i => (i.toLong, rndText(rnd, 10)))
      val got = GraftOps.tfidf(docs.toDF("id", "text"), "id", "text")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val n = docs.length.toDouble
      val all = docs.flatMap { case (id, t) => tok(t).map(id -> _) }
      val exp = all.groupBy(_._2).map { case (tkn, xs) =>
        val tf = xs.length.toLong
        val df = xs.map(_._1).distinct.length.toLong
        tkn -> ((tf, df, BigDecimal(tf * math.log(n / df))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      assert(got === exp)
    }
  }

  test("fuzz bm25 vs brute Robertson formula (incl. zero-tf and short docs)") {
    val (k1, b) = (1.2, 0.75)
    forSeeds { rnd =>
      val docs = (0 until 15).map(i => (i.toLong, rndText(rnd, 10))) :+
        (15L, "")
      val terms = Seq.fill(2)(vocab(rnd.nextInt(vocab.size))).distinct
      val got = GraftOps.bm25(docs.toDF("id", "text"), "id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val n = docs.length.toDouble
      val lens = docs.map { case (id, t) => id -> tok(t).length.toDouble }.toMap
      val avgLen = lens.values.sum / n
      val dfOf = terms.map(t =>
        t -> docs.count(d => tok(d._2).contains(t)).toDouble).toMap
      docs.foreach { case (id, t) =>
        val score = terms.map { term =>
          val tf = tok(t).count(_ == term).toDouble
          math.log((n - dfOf(term) + 0.5) / (dfOf(term) + 0.5) + 1.0) *
            (tf * (k1 + 1.0)) /
            (tf + k1 * (1.0 - b + b * lens(id) / avgLen))
        }.sum
        assert(math.abs(got(id) - score) < 2e-6, s"doc $id terms $terms")
      }
    }
  }

  test("fuzz unigramLogprob / bigramLogprob vs brute MLE scoring") {
    forSeeds { rnd =>
      val docs = (0 until 12).map(i =>
        (i.toLong, Seq.fill(2 + rnd.nextInt(8))(
          vocab(rnd.nextInt(4))).mkString(" ")))
      val df = docs.toDF("id", "text")
      // unigram
      val uniFreq = docs.flatMap(d => tok(d._2)).groupBy(identity)
        .view.mapValues(_.length.toDouble).toMap
      val nTok = uniFreq.values.sum
      val gotU = GraftOps.unigramLogprob(df, "id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      docs.foreach { case (id, t) =>
        val lps = tok(t).map(w => math.log(uniFreq(w) / nTok))
        val (n, lp) = gotU(id)
        assert(n === tok(t).length.toLong)
        assert(math.abs(lp - BigDecimal(lps.sum / lps.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
          s"unigram doc $id")
      }
      // bigram: avg over ln(c(w1 w2) / c(w1 *)) with prefix counts from
      // the BIGRAM table (matching the implementation's pref aggregate)
      val bigrams = docs.flatMap(d => tok(d._2).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")))
      val bf = bigrams.groupBy(identity).view.mapValues(_.length.toDouble).toMap
      val pf = bf.toSeq.groupBy(_._1.split(" ", -1).head)
        .view.mapValues(_.map(_._2).sum).toMap
      val gotB = GraftOps.bigramLogprob(df, "id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      docs.foreach { case (id, t) =>
        val bs = tok(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        val lps = bs.map(bg => math.log(bf(bg) / pf(bg.split(" ", -1).head)))
        val (n, lp) = gotB(id)
        assert(n === bs.length.toLong, s"bigram count doc $id")
        assert(math.abs(lp - BigDecimal(lps.sum / lps.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
          s"bigram doc $id")
      }
    }
  }

  // ---- near-dup / ANN contracts --------------------------------------------

  test("fuzz minhashPairs: planted exact duplicates are ALWAYS found at distance 0") {
    forSeeds { rnd =>
      val base = (0 until 12).map(i => (i.toLong, rndText(rnd, 10)))
        .filter(_._2.split(" ").count(_.nonEmpty) >= 3) // shingleable
      // plant exact duplicates of a seeded sample under new ids
      val dups = base.filter(_ => rnd.nextBoolean()).take(4)
        .zipWithIndex.map { case ((_, t), i) => (100L + i, t) }
      val rows = base ++ dups
      val got = GraftOps.minhashPairs(rows.toDF("id", "text"), "id", "text",
          maxDist = 0.1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val gotPairs = got.map(t => (t._1, t._2)).toSet
      dups.foreach { case (did, t) =>
        val orig = base.find(_._2 == t).get._1
        val key = (math.min(orig, did), math.max(orig, did))
        assert(gotPairs.contains(key),
          s"planted exact duplicate pair $key not found")
      }
      // every exact-duplicate pair reports distance 0
      got.foreach { case (a, b, d) =>
        val (ta, tb) = (rows.find(_._1 == a).get._2, rows.find(_._1 == b).get._2)
        if (ta == tb) assert(d === 0.0, s"exact dup ($a,$b) at distance $d")
      }
    }
  }

  test("fuzz annTopK: sims are exact, results bucket-consistent subsets of brute force") {
    forSeeds { rnd =>
      val d = 8
      val vecs = (0 until 25).map(i => (i.toLong, rndVec(rnd, d)))
      val got = GraftOps.annTopK(vecs.toDF("id", "v"), "id", "v",
          probeId = 0L, k = 5, n = vecs.length.toLong)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val brute = vecs.tail.map { case (i, v) =>
        i -> BigDecimal(bruteCos(vecs.head._2, v))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      got.foreach { case (i, s) =>
        assert(math.abs(s - brute(i)) < 1e-9, s"ann sim for $i must be exact")
      }
      // sim-ordered with the id tie-break
      assert(got.sortBy { case (i, s) => (-s, i) }.toSeq === got.toSeq)
    }
  }

  test("fuzz splitAssign: bands are NESTED as fractions grow (no train->test migration)") {
    forSeeds { rnd =>
      val rows = (0 until 50).map(i => (rnd.nextInt(1000000).toLong, i))
      def trainIds(f: Double) =
        GraftOps.splitAssign(rows.toDF("k", "v"), "k", "split",
            Seq("train" -> f, "val" -> 0.05))
          .filter(col("split") === "train")
          .collect().map(_.getLong(0)).toSet
      val fs = Seq(0.2, 0.5, 0.8, 1.0 - 0.05)
      fs.map(trainIds).sliding(2).foreach {
        case Seq(a, b) => assert(a.subsetOf(b), "growing train must keep old rows")
        case _ =>
      }
    }
  }

  test("fuzz globalPrefixSums with negative values and duplicate-free sparse keys") {
    forSeeds { rnd =>
      val keys = (0 until 30).map(_ => rnd.nextInt(100000).toLong).distinct
      val rows = keys.map(k => (k, rnd.nextInt(2001).toLong - 1000L))
      val got = GraftOps.globalPrefixSums(rows.toDF("k", "a"), "k",
          Seq("a"), shardWidth = 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      var cum = 0L
      val exp = rows.sortBy(_._1).map { case (k, a) => cum += a; (k, a, cum) }
      assert(got.toSeq === exp)
    }
  }

  // ---- compression / layout / sketch algebra -------------------------------

  test("fuzz pqEncode vs brute per-subspace argmin (first-min tie-break)") {
    forSeeds { rnd =>
      val (m, k, ds) = (2, 4, 4)
      val codebook = Array.fill(m, k, ds)((rnd.nextDouble() * 2 - 1).toFloat)
      val vecs = (0 until 15).map(i => (i.toLong, rndVec(rnd, m * ds)))
      val got = vecs.toDF("id", "v")
        .select(col("id"), GraftOps.pqEncode(col("v"), codebook).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      vecs.foreach { case (id, v) =>
        val exp = (0 until m).map { mi =>
          val d2 = (0 until k).map { c =>
            (0 until ds).map { j =>
              val x = v(mi * ds + j).toDouble - codebook(mi)(c)(j).toDouble
              x * x
            }.sum
          }
          // first strict minimum (the fold replaces only on d2 < best)
          d2.zipWithIndex.minBy { case (d, i) => (d, i) }._2
        }
        assert(got(id).toSeq === exp, s"vec $id")
      }
    }
  }

  test("fuzz pqCosineAdc vs brute table-lookup score; ivfAssign vs brute argmin") {
    forSeeds { rnd =>
      val (m, k, ds) = (2, 4, 4)
      val codebook = Array.fill(m, k, ds)((rnd.nextDouble() * 2 - 1).toFloat)
      val probe = rndVec(rnd, m * ds)
      val (ip, n2) = GraftOps.pqAdcTables(probe, codebook)
      val pn = math.sqrt(probe.map(x => x.toDouble * x).sum)
      val codes = (0 until 12).map(i =>
        (i.toLong, Seq.fill(m)(rnd.nextInt(k))))
      val got = codes.toDF("id", "c")
        .select(col("id"),
          GraftOps.pqCosineAdc(col("c"), ip, n2, pn).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      codes.foreach { case (id, cs) =>
        val ipSum = cs.zipWithIndex.foldLeft(0.0) {
          case (a, (c, mi)) => a + ip(mi)(c).toDouble }
        val n2Sum = cs.zipWithIndex.foldLeft(0.0) {
          case (a, (c, mi)) => a + n2(mi)(c).toDouble }
        val exp = ipSum / (pn * math.sqrt(n2Sum))
        assert(math.abs(got(id) - exp) < 1e-12, s"codes $cs")
      }
      // ivfAssign == pqEncode with ONE whole-vector subspace
      val cents = Array.fill(5, m * ds)((rnd.nextDouble() * 2 - 1).toFloat)
      val vecs = (0 until 10).map(i => (i.toLong, rndVec(rnd, m * ds)))
      val gotA = vecs.toDF("id", "v")
        .select(col("id"), GraftOps.ivfAssign(col("v"), cents))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vecs.foreach { case (id, v) =>
        val exp = cents.indices.minBy { c =>
          (v.indices.map { j =>
            val x = v(j).toDouble - cents(c)(j).toDouble; x * x
          }.sum, c)
        }
        assert(gotA(id) === exp, s"vec $id")
      }
    }
  }

  test("fuzz residual ADC (IVF-PQ form) vs brute correction algebra AND true reconstruction") {
    // r14: knn_ivfpq moved to residual codes; this is the brute-force
    // differential twin of Pq.residualAdcState + Pq.pqCosineAdcResidual
    // (the r13 verdict's fuzz-the-re-encode item). Two references:
    // (a) the same float lookup tables summed in plain Scala — pins
    // the Catalyst map-literal/zip_with expression EXACTLY; (b) the
    // true cosine(probe, center + concat(codebook rows)) in double —
    // pins the correction ALGEBRA (⟨p,c⟩ + Σip over ‖c‖² + Σ(2ipc+n2))
    // up to the float rounding of the table entries.
    forSeeds { rnd =>
      val (m, k, ds) = (2, 4, 4)
      val d = m * ds
      val cb = Array.fill(m, k, ds)((rnd.nextDouble() * 2 - 1).toFloat)
      val probe = rndVec(rnd, d)
      val centers = (0 until 3).map(c =>
        c -> Array.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)).toMap
      val st = operators.Pq.residualAdcState(probe, centers, cb)
      val pn = math.sqrt(probe.map(x => x.toDouble * x).sum)
      val rows = (0 until 12).map(i =>
        (i.toLong, rnd.nextInt(3), Seq.fill(m)(rnd.nextInt(k))))
      val got = rows.toDF("id", "cell", "c")
        .select(col("id"),
          operators.Pq.pqCosineAdcResidual(col("c"), col("cell"), st, pn).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.foreach { case (id, cell, cs) =>
        // (a) brute table-lookup decomposition — must match exactly
        val ipSum = st.cellIpPC(cell) + cs.zipWithIndex.foldLeft(0.0) {
          case (a, (c, mi)) => a + st.ipP(mi)(c).toDouble }
        val n2Sum = st.cellC2(cell) + cs.zipWithIndex.foldLeft(0.0) {
          case (a, (c, mi)) => a + st.cellU(cell)(mi)(c) }
        val expTab = ipSum / (pn * math.sqrt(math.max(n2Sum, 1e-300)))
        assert(math.abs(got(id) - expTab) < 1e-12,
          s"table path diverged: cell $cell codes $cs")
        // (b) true reconstruction cosine — float-table rounding only
        val cen = centers(cell)
        val vhat = (0 until d).map(j =>
          cen(j).toDouble + cb(j / ds)(cs(j / ds))(j % ds).toDouble)
        val ip = (0 until d).map(j => probe(j).toDouble * vhat(j)).sum
        val n2 = vhat.map(x => x * x).sum
        val expTrue = ip / (pn * math.sqrt(math.max(n2, 1e-300)))
        assert(math.abs(got(id) - expTrue) < 1e-5,
          s"correction algebra diverged: cell $cell codes $cs " +
            s"got ${got(id)} true $expTrue")
      }
    }
  }

  test("fuzz signedProjection vs brute sign-matrix fold") {
    forSeeds { rnd =>
      val d = 5 + rnd.nextInt(8)
      val outDims = 1 + rnd.nextInt(6)
      val vecs = (0 until 12).map(i => (i.toLong, rndVec(rnd, d)))
      val got = vecs.toDF("id", "v")
        .select(col("id"), GraftOps.signedProjection(col("v"), outDims))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      vecs.foreach { case (id, v) =>
        val exp = (0 until outDims).map { j =>
          val s = v.indices.foldLeft(0.0) { (acc, i) =>
            val sign = if ((i * 37 + j * 101 + i * j * 13) % 4 < 2) 1.0 else -1.0
            acc + v(i).toDouble * sign
          }
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        assert(got(id).toSeq === exp, s"vec $id dims $outDims")
      }
    }
  }

  test("fuzz repetitionSignals vs brute token/bigram stats") {
    forSeeds { rnd =>
      // small vocab with forced repeats so max-bigram-frequency varies
      def t(): String = Seq.fill(1 + rnd.nextInt(12))(
        Seq("a", "b", "a b", "c")(rnd.nextInt(4))).mkString(" ")
      val texts = Seq.fill(15)(t()) :+ "a"
      val got = texts.toDF("text")
        .select(GraftOps.repetitionSignals("text").as("s"))
        .collect().map(r => (r.getStruct(0).getLong(0),
          r.getStruct(0).getLong(1), r.getStruct(0).getLong(2)))
      texts.zip(got).foreach { case (txt, (n, nd, top)) =>
        val ws = tok(txt)
        assert(n === ws.length.toLong)
        assert(nd === ws.distinct.length.toLong)
        val expTop =
          if (ws.length < 2) 1L
          else ws.sliding(2).map(_.mkString(" ")).toSeq
            .groupBy(identity).values.map(_.length).max.toLong
        assert(top === expTop, s"'$txt'")
      }
    }
  }

  test("fuzz count-min sketch: one-sided error at every key") {
    forSeeds { rnd =>
      val rows = Seq.fill(200)(rnd.nextInt(30).toLong)
      val cms = GraftOps.cmsBuild(rows.toDF("k"), col("k"))
      val truth = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val keys = (0L until 40L).toSeq
      val est = GraftOps.cmsEstimates(spark, cms, keys)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      keys.foreach { k =>
        val exact = truth.getOrElse(k, 0L)
        assert(est(k) >= exact, s"CMS must never under-count key $k")
        assert(est(k) <= exact + math.max(1L, rows.length / 10),
          s"implausible over-count for key $k: ${est(k)} vs $exact")
      }
    }
  }

  test("fuzz hilbertCode at order 4: bijective on 16x16, unit-step adjacent") {
    val bits = 4
    val grid = for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong)
    val rows = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        GraftOps.hilbertCode(col("a"), col("b"), bits).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.values.toSeq.sorted === (0L until 256L))
    val byCode = rows.map(_.swap)
    (0L until 255L).foreach { c =>
      val (a1, b1) = byCode(c); val (a2, b2) = byCode(c + 1)
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) === 1,
        s"codes $c,${c + 1} not adjacent")
    }
  }

  test("fuzz winnowFingerprints cascade vs Scala window minima over engine gram hashes") {
    forSeeds { rnd =>
      val (k, w) = (5, 4)
      def t(): String = Seq.fill(2 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val texts = (0 until 15).map(i => (i.toLong, t()))
      val df = texts.toDF("id", "text")
      // gram hashes FROM the engine (hash function not under test);
      // the window-minimum cascade algebra is what the brute replays
      val hashes = df.select(col("id"),
          transform(expr(s"kgrams(text, $k)"), g => xxhash64(g)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = df.select(col("id"),
          graft.api.GraftOps.winnowFingerprints(col("text"), k, w))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.foreach { case (id, _) =>
        val hs = hashes(id)
        val exp =
          (if (hs.length <= w) Seq(hs.min)
           else hs.sliding(w).map(_.min).toSeq).distinct.sorted
        assert(got(id).toSeq === exp, s"doc $id")
      }
    }
  }

  // ---- BPE: exact reference twin -----------------------------------------

  /** Left-to-right non-overlapping single-pass merge — the exact
    * (emitted, pending) fold bpeTrain/bpeEncode evaluate in SQL
    * ("aaa" under (a,a) → [aa, a]).
    */
  private def mergeOnce(sym: Vector[String], l: String,
      r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var prev: Option[String] = None
    sym.foreach { x =>
      if (prev.contains(l) && x == r) { out += (l + r); prev = None }
      else { prev.foreach(out += _); prev = Some(x) }
    }
    prev.foreach(out += _)
    out.result()
  }

  test("fuzz bpeTrain/bpeEncode vs brute reference BPE (rules, counts, budgets)") {
    forSeeds { rnd =>
      // tiny alphabet + repeats force contested merges and ties
      def word(): String = Seq.fill(1 + rnd.nextInt(6))(
        "abc".charAt(rnd.nextInt(3))).mkString
      val docs = (0 until 12).map(i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(6))(word()).mkString(" ")))
      val merges = 3 + rnd.nextInt(3)
      val gotRules = GraftOps.bpeTrain(docs.toDF("id", "text"), "text", merges)
        .collect().map(r => (r.getInt(0).toLong, r.getString(1),
          r.getString(2), r.getLong(3))).toSeq

      // brute train over the distinct-word frequency table
      val wordFreq = docs.flatMap(d => tok(d._2)).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      var vocab = wordFreq.map { case (w, f) =>
        (w.toVector.map(_.toString), f) }.toSeq
      val expRules = Seq.newBuilder[(Long, String, String, Long)]
      var exhausted = false
      for (m <- 1 to merges if !exhausted) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (sym, f) =>
          sym.sliding(2).filter(_.length == 2).foreach { p =>
            val k = (p(0), p(1))
            counts(k) = counts.getOrElse(k, 0L) + f
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ((l, r), cnt) = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          expRules += ((m.toLong, l, r, cnt))
          vocab = vocab.map { case (sym, f) => (mergeOnce(sym, l, r), f) }
        }
      }
      assert(gotRules === expRules.result(),
        s"rule sequence diverged at merges=$merges")

      // encode with the learned rules: per-doc word and token budgets
      val ruleSeq = gotRules.map(t => (t._2, t._3))
      if (ruleSeq.nonEmpty) {
        val gotEnc = GraftOps.bpeEncode(docs.toDF("id", "text"), "text", ruleSeq)
          .collect().map(r => r.getAs[Long]("id") ->
            ((r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))).toMap
        docs.foreach { case (id, t) =>
          val ws = tok(t).filter(_.nonEmpty)
          val total = ws.map { w =>
            ruleSeq.foldLeft(w.toVector.map(_.toString)) {
              case (sym, (l, r)) => mergeOnce(sym, l, r)
            }.length.toLong
          }.sum
          assert(gotEnc(id) === ((ws.length.toLong, total)), s"doc $id '$t'")
        }
      }
    }
  }

  // ---- sketch ----------------------------------------------------------

  test("fuzz bloom filter: zero false negatives at every seed") {
    forSeeds { rnd =>
      val present = (0 until 50).map(_ => rnd.nextInt(1000000).toLong).distinct
      val filter = GraftOps.bloomBuild(present.toDF("k"), col("k"),
        items = 1000L, bits = 16384L)
      val absent = (0 until 50).map(_ => 2000000L + rnd.nextInt(1000000))
      val probe = (present ++ absent).toDF("k")
      val got = probe.select(col("k"),
          GraftOps.bloomMightContain(spark, filter, col("k")).as("hit"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      present.foreach(k => assert(got(k), s"false negative on $k"))
      // quality, not correctness: fpp at 16 bits/item should be tiny
      val fps = absent.count(got(_))
      assert(fps <= 5, s"implausible false-positive count $fps/50")
    }
  }
}
