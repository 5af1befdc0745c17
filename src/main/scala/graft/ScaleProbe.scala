package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-ladder probe (r11 verdict item 4): every scale claim
  * in the repo is a PLAN pin; this measures the curve. Builds a
  * deterministic `factor`× blow-up of a corpus dir under /tmp (same
  * schemas and value domains, scaled row counts), times the given
  * queries cold+warm at 1× and factor×, and prints a scaling-exponent
  * table (`exp = log(T_fx / T_1x) / log(factor)` — ~1.0 is linear).
  * The single-task-stage bug class (the r10 winnow regression) is only
  * VISIBLE at scale, which is exactly what this surfaces.
  *
  * What is timed: full materialization of every row and column, through
  * the `noop` sink (`df.write.format("noop")`), not `count()`, under
  * which Catalyst drops sorts and unused columns (the row counts come
  * from an untimed `count()` after the timed runs). Before any timed
  * run, each named query runs once, untimed, on a copy of the 1× corpus
  * at another path: the JVM's first-query costs (class loading, JIT,
  * session init) land there, and since `DataFingerprint` keys on the
  * path, nothing the copy builds (artifacts, models, resolved tables)
  * is reused, so the 1× and factor× cold runs stay cold.
  *
  * Blow-up semantics per table (copy k of `factor`, k = 0 unchanged):
  *   - region/nation: DOMAIN tables, kept as-is (25 nations stay 25).
  *   - customer/supplier/part/orders/lineitem/events: entity keys shift
  *     by k·(max+1) so per-entity cardinalities and join fan-outs are
  *     PRESERVED (10× rows ⇒ 10× groups, same group sizes).
  *   - documents: doc_id shifts; every token gets a `_k` suffix so
  *     copies share no shingles (cluster/near-dup structure preserved
  *     per copy — naive text duplication would square the candidate
  *     pair counts and measure the DATA, not the operator).
  *   - embeddings: vec_id shifts; the vector rotates by k positions
  *     (norms preserved, LSH/IVF cells re-randomized per copy).
  *
  * Usage: tools/run_main.sh graft.ScaleProbe <srcSfDir> <outDir>
  *          <factor> <name...>
  * Not part of the driver contract.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val names = args.drop(3)
    val spark = GraftSession.start()

    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      println(s"== building ${factor}x corpus at $out ==")
      buildBlowup(spark, src, out, factor)
    }

    /** Wall seconds of one full materialization. */
    def materialize(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      dt
    }

    val warmup = java.nio.file.Files.createTempDirectory("graft_scale_warmup_")
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), warmup.toFile)
      names.foreach(materialize(_, warmup.toString))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(warmup.toFile)

    println(f"${"query"}%-26s ${"rows1"}%9s ${"rowsF"}%9s ${"cold1"}%7s ${"coldF"}%7s ${"warm1"}%7s ${"warmF"}%7s ${"expC"}%5s ${"expW"}%5s")
    names.foreach { name =>
      def time(dir: String): (Long, Double, Double) = {
        val cold = materialize(name, dir)
        val warm = materialize(name, dir)
        (SparkEntry.queries(name)(spark, dir).count(), cold, warm)
      }
      val (n1, c1, w1) = time(src)
      val (nf, cf, wf) = time(out)
      val lg = math.log(factor.toDouble)
      val expC = math.log(cf / c1) / lg
      val expW = math.log(wf / w1) / lg
      println(f"$name%-26s $n1%9d $nf%9d $c1%7.2f $cf%7.2f $w1%7.2f $wf%7.2f $expC%5.2f $expW%5.2f")
    }
    spark.stop()
  }

  def buildBlowup(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // domain tables: unchanged
    Seq("region", "nation").foreach(t => write(read(t), t))

    // Key-shifted copies: k ∈ [0, factor); key' = key + k·(domainMax+1).
    // Every key DOMAIN shifts by its PARENT table's max (a foreign key
    // shifted by its own local max would dangle — copy-1 orders must
    // reference copy-1 customers, preserving join cardinalities).
    def domainMax(t: String, c: String): Long =
      read(t).agg(max(col(c))).collect()(0).getLong(0) + 1
    val shift = Map(
      "c_custkey" -> domainMax("customer", "c_custkey"),
      "s_suppkey" -> domainMax("supplier", "s_suppkey"),
      "p_partkey" -> domainMax("part", "p_partkey"),
      "o_orderkey" -> domainMax("orders", "o_orderkey"),
      "user_id" -> domainMax("events", "user_id"),
      "event_id" -> domainMax("events", "event_id"),
      "doc_id" -> domainMax("documents", "doc_id"),
      "vec_id" -> domainMax("embeddings", "vec_id"))
    val fkOf = Map("o_custkey" -> "c_custkey", "l_orderkey" -> "o_orderkey",
      "l_partkey" -> "p_partkey", "l_suppkey" -> "s_suppkey")
    def copies(t: String, keyCols: Seq[String]): DataFrame = {
      val df = read(t)
      df.select(col("*"),
          explode(sequence(lit(0L), lit(factor.toLong - 1))).as("__k"))
        .select(df.columns.map { c =>
          if (keyCols.contains(c))
            (col(c) + col("__k") * shift(fkOf.getOrElse(c, c))).as(c)
          else col(c)
        } :+ col("__k"): _*)
    }
    write(copies("customer", Seq("c_custkey")).drop("__k"), "customer")
    write(copies("supplier", Seq("s_suppkey")).drop("__k"), "supplier")
    write(copies("part", Seq("p_partkey")).drop("__k"), "part")
    write(copies("orders", Seq("o_orderkey", "o_custkey")).drop("__k"), "orders")
    write(copies("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .drop("__k"), "lineitem")
    write(copies("events", Seq("event_id", "user_id")).drop("__k"), "events")

    // documents: per-copy token suffix keeps copies shingle-disjoint
    val docs = copies("documents", Seq("doc_id"))
    write(docs.select(col("doc_id"),
        when(col("__k") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_"), col("__k"))), " ")).as("text"),
        col("lang"), col("source"), col("n_chars")), "documents")

    // embeddings: rotate the vector by k positions (norm-preserving);
    // past one full rotation cycle (k >= d — reachable at factor 100
    // over 64 dims) rotation alone would REPEAT copy k-d exactly, so
    // odd cycles also negate the vector (still norm-preserving, cosine
    // -1 to the colliding copy — no accidental exact dups)
    val emb = copies("embeddings", Seq("vec_id"))
    val d = size(col("embedding"))
    val rotated = when(col("__k") % d === 0, col("embedding")).otherwise(concat(
      slice(col("embedding"), (col("__k") % d) + 1,
        d - (col("__k") % d).cast("int")),
      slice(col("embedding"), lit(1), (col("__k") % d).cast("int"))))
    write(emb.select(col("vec_id"),
        when((col("__k") / d).cast("int") % 2 === 0, rotated)
          .otherwise(transform(rotated, x => -x))
          .as("embedding"),
        col("label")), "embeddings")
  }
}
