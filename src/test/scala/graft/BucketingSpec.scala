package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Materialize, Tables}

/** Bucketing for co-located joins: pre-bucketing both sides on the join
  * key removes the per-query shuffle entirely — THE lever for repeated
  * large-large joins at 100 TB (pay the shuffle once at write time).
  */
class BucketingSpec extends SparkTestBase {

  test("runtime bloom-filter semi-join reduction: the dim filter reaches the fact side as a bloom probe") {
    // The third runtime-pruning lever beside DPP and AQE: for a
    // NON-partition join key, Spark builds a bloom filter from the
    // filtered dim side and injects a might_contain probe into the fact
    // side BEFORE the shuffle — at 100 TB that's shuffling only the
    // ~selectivity fraction of the fact table instead of all of it.
    // The size thresholds exist for real clusters (building a bloom
    // costs a dim-side pass); zeroing them here makes the toy corpus
    // eligible so the PLAN SHAPE is pinned.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def query() = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(Tables.orders(spark, sf)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val q = query()
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom probe on the fact side:\n$opt")
      val withBloom = q.orderBy("l_returnflag").collect().toSeq
      // the probe is a pure pre-filter: result identical without it
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(query().orderBy("l_returnflag").collect().toSeq === withBloom,
        "bloom reduction must not change the join result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("orders_bkt")
      Tables.customer(spark, sf)
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("customer_bkt")

      val joined = spark.table("customer_bkt")
        .join(spark.table("orders_bkt"),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n"))
      val plan = planOf(joined)
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")

      // and it is value-identical to the unbucketed join
      val plainCount = Tables.customer(spark, sf)
        .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"))
        .count()
      assert(joined.agg(sum("n")).collect()(0).getLong(0) === plainCount)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("join_bucketed's gated plan joins with zero exchange below the SortMergeJoin") {
    val plan = planOf(graft.operators.Joins.joinBucketed(spark, sf))
    val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"bucketed gated join must not shuffle either input:\n$plan")
  }

  test("join_bucketed keeps its bucketed tables under the artifact root, out of spark-warehouse") {
    val dir = tempDir("graft_bkt_loc")
    Seq("orders", "customer").foreach(t => Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    val warehouse = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def warehouseDirs = Option(warehouse.list()).map(_.toSet).getOrElse(Set.empty)
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val (dirsBefore, tablesBefore) = (warehouseDirs, tables)
    graft.operators.Joins.joinBucketed(spark, dir.toString).collect()
    val built = tables -- tablesBefore
    assert(built.size === 2, s"expected one fresh orders and one customer table: $built")
    for (t <- built) {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      assert(loc.getPath.startsWith(Materialize.root.toString),
        s"$t lives at $loc, not under ${Materialize.root}")
    }
    assert(warehouseDirs -- dirsBefore === Set.empty[String],
      "join_bucketed must not leave table directories in the managed warehouse")
  }

  test("join_bucketed rebuilds its bucketed tables when orders is rewritten") {
    val dir = tempDir("graft_bkt_sf")
    val tmp = tempDir("graft_bkt_orders")
    Seq("orders", "customer").foreach(t => Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    def plainCount() = Tables.customer(spark, dir.toString)
      .join(Tables.orders(spark, dir.toString), col("c_custkey") === col("o_custkey"))
      .count()
    def bucketedCount() = graft.operators.Joins.joinBucketed(spark, dir.toString)
      .agg(sum(col("n_orders"))).collect()(0).getLong(0)
    assert(bucketedCount() === plainCount())
    // rewrite orders with a subset of its rows and a new mtime
    Tables.orders(spark, dir.toString).filter(col("o_orderkey") % 3 === 0)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val orders = dir.resolve("orders.parquet")
    Files.move(part, orders, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(orders, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 60000))
    val plain = plainCount()
    assert(bucketedCount() === plain,
      "join_bucketed must join the rewritten orders, not the tables built before")
    assert(plain < Tables.orders(spark, sf).count(), "the rewrite dropped rows")
  }

  test("dynamic partition pruning: a dim filter prunes the fact's partition scan at runtime") {
    // The other half of the layout story beside bucketing: a fact table
    // partitioned on a join-correlated column must NOT read every
    // partition when the query joins it to a filtered dimension — at
    // 100 TB the difference is scanning one year instead of seven. The
    // dim filter isn't a literal on the fact side, so static pushdown
    // can't see it; DPP turns the dim's build side into a runtime
    // partition filter.
    val dir = tempDir("graft_dpp").toString
    spark.sql("DROP TABLE IF EXISTS orders_part")
    try {
      Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite")
        .option("path", s"$dir/orders_part").saveAsTable("orders_part")
      val dim = spark.range(1995, 2002).toDF("d_year")
        .withColumn("flag", col("d_year") % 7)
      val q = spark.table("orders_part")
        .join(dim.filter(col("flag") === 0), col("o_year") === col("d_year"))
        .groupBy(col("o_year")).agg(count(lit(1)).as("n"))
      val plan = planOf(q)
      assert(plan.contains("dynamicpruning"),
        s"the dim filter must prune fact partitions at runtime:\n$plan")
      // and the pruned result is value-identical to the unpartitioned join
      val expected = Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
        .join(dim.filter(col("flag") === 0), col("o_year") === col("d_year"))
        .groupBy(col("o_year")).agg(count(lit(1)).as("n"))
      assert(q.orderBy("o_year").collect().toSeq ===
        expected.orderBy("o_year").collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS orders_part")
  }
}
