package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source/sink surface (SURVEY.md §2.1 A2/A3): parquet is the gated
  * path; CSV, JSON, and JDBC round-trips are pinned here. The JDBC
  * sink/source runs against embedded Derby (`derby-10.16.1.1.jar` ships
  * in /opt/spark/jars) — an in-process, in-memory database, which is
  * exactly the ETL reference class's "load into reporting tables over
  * JDBC" path without needing a server in the image.
  */
class SourcesSpec extends SparkTestBase {

  test("jdbc sink + source round-trips the nation table (embedded Derby)") {
    // keep derby.log out of the repo root
    System.setProperty("derby.system.home", tempDir("graft_derby").toString)
    val url = "jdbc:derby:memory:graft;create=true"
    val n = Tables.nation(spark, sf)
    n.write.format("jdbc")
      .option("url", url)
      .option("dbtable", "nation")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .mode("overwrite")
      .save()
    val back = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "nation")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
    assert(back.count() === n.count())
    assert(back.except(n).count() === 0)
    assert(n.except(back).count() === 0)
    // and the source composes into a plan like any other relation:
    // dim-join a JDBC table against a parquet fact table
    val joined = Tables.customer(spark, sf)
      .join(broadcast(back), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).count()
    assert(joined.agg(sum("count")).collect()(0).getLong(0) === Tables.customer(spark, sf).count())
  }

  test("jdbc source supports predicate pushdown into the database") {
    System.setProperty("derby.system.home", tempDir("graft_derby2").toString)
    val url = "jdbc:derby:memory:graft2;create=true"
    Tables.region(spark, sf).write.format("jdbc")
      .option("url", url).option("dbtable", "region")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .mode("overwrite").save()
    val df = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "region")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
      .filter(col("r_regionkey") < 2)
    // the filter must reach the JDBC scan (PushedFilters), not Spark
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("r_regionkey"),
      s"filter should push into the JDBC source:\n$plan")
    assert(df.count() === 2)
  }

  test("csv sink + source round-trips the nation table") {
    val dir = tempDir("graft_csv").toString
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(n.schema) // pin the schema: inference is not for gated paths
      .csv(dir)
    assert(back.count() === n.count())
    assert(back.except(n).count() === 0)
    assert(n.except(back).count() === 0)
  }

  test("json sink + source round-trips the region table") {
    val dir = tempDir("graft_json").toString
    val r = Tables.region(spark, sf)
    r.write.mode("overwrite").json(dir)
    val back = spark.read.schema(r.schema).json(dir)
    assert(back.count() === r.count())
    assert(back.except(r).count() === 0)
  }

  test("orc sink + source round-trips the nation table with predicate pushdown") {
    val dir = tempDir("graft_orc").toString
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === n.count())
    assert(back.except(n).count() === 0 && n.except(back).count() === 0)
    // ORC scans take pushed filters exactly like parquet
    val filtered = back.filter(col("n_nationkey") < 10)
    val plan = planOf(filtered)
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
      s"filter should push into the ORC scan:\n$plan")
    assert(filtered.count() === 10)
  }

  test("parquet sink round-trips a query result bit-exactly") {
    val dir = tempDir("graft_pq").toString
    val df = graft.operators.Aggregates.aggPricing(spark, sf)
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.except(df).count() === 0)
    assert(df.except(back).count() === 0)
  }

  test("idempotent per-period load: dynamic partition overwrite replaces only the written period") {
    // The ETL lifecycle (SURVEY §3.1): re-running a period's load must
    // overwrite that period's partition and leave every other period
    // untouched — partitionBy + dynamic overwrite is the Spark shape.
    val dir = tempDir("graft_period").toString
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val o = graft.sources.Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
      o.write.partitionBy("o_year").mode("overwrite").parquet(dir)
      val fullCount = spark.read.parquet(dir).count()
      val y96 = o.filter(col("o_year") === 1996)
      assert(y96.count() > 0)
      // re-run the 1996 load: only that partition may be rewritten
      y96.write.partitionBy("o_year").mode("overwrite").parquet(dir)
      val after = spark.read.parquet(dir)
      assert(after.count() === fullCount, "non-1996 periods must survive the re-run")
      assert(after.filter(col("o_year") === 1996).count() === y96.count())
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("permissive CSV parsing captures malformed rows instead of failing the load") {
    // the ETL-class ingest contract: a bad row in a 100 TB feed must be
    // quarantined, not kill the job
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_badcsv")
    Files.writeString(dir.resolve("data.csv"),
      "1,alpha,10.5\n2,beta,not_a_number\n3,gamma,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("_corrupt", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir.toString)
      .cache() // corrupt-record column requires a materialization barrier
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt").isNotNull).count() === 1, "bad row quarantined")
    assert(df.filter(col("_corrupt").isNull).count() === 2, "good rows load")
    assert(df.filter(col("id") === 2 && col("score").isNull).count() === 1,
      "unparseable field nulls, row survives")
  }

  test("schema evolution: mergeSchema unions columns across parquet generations") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft_evolve").toString
    // generation 1: (id, a) — generation 2 adds column b
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/g=1")
    Seq((2L, "y", 9L)).toDF("id", "a", "b").write.parquet(s"$dir/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "a", "b", "g"))
    assert(merged.filter(col("g") === 1).select("b").collect()(0).isNullAt(0),
      "old generation null-fills the new column")
    assert(merged.filter(col("g") === 2).select("b").collect()(0).getLong(0) === 9L)
  }

  test("binaryFile source ingests raw blobs with metadata for the multimodal path") {
    // the real 100 TB multimodal ingest: files land on object storage,
    // spark.read.format("binaryFile") turns them into (path, length,
    // content) rows that the decode/feature-extract operators consume —
    // this pins the schema contract and a metadata-join over it
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft_blobs").toString
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3, 4),
      "b.bin" -> Array[Byte](9, 8), "c.bin" -> Array.fill[Byte](1024)(7))
    payloads.foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("length"), col("content"))
    val rows = blobs.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getAs[Array[Byte]](2))).toMap
    assert(rows.keySet === payloads.keySet)
    payloads.foreach { case (name, bytes) =>
      assert(rows(name)._1 === bytes.length.toLong, s"$name length")
      assert(rows(name)._2.toSeq === bytes.toSeq, s"$name content")
    }
    // metadata join: the typed side-table pattern multimodal_join uses
    val meta = Seq(("a.bin", "image"), ("b.bin", "audio"), ("c.bin", "video"))
      .toDF("file", "kind")
    val joined = blobs.join(broadcast(meta), Seq("file"))
      .select(col("file"), col("kind"), length(col("content")).as("n"))
      .orderBy(col("file")).collect()
    assert(joined.length === 3)
    assert(joined.map(_.getString(1)).toSeq === Seq("image", "audio", "video"))
  }

  test("xml sink + source round-trips the region table (Spark 4 built-in XML)") {
    val dir = tempDir("graft_xml").toString + "/region"
    val r = Tables.region(spark, sf)
    r.write.format("xml").option("rowTag", "region").save(dir)
    val back = spark.read.format("xml").option("rowTag", "region").load(dir)
      .select(col("r_regionkey").cast("int"), col("r_name"))
      .orderBy(col("r_regionkey")).collect()
    val orig = r.orderBy(col("r_regionkey")).collect()
    assert(back.length === orig.length)
    back.zip(orig).foreach { case (b, o) =>
      assert(b.getInt(0) === o.getInt(0) && b.getString(1) === o.getString(1))
    }
  }

  test("text source ingests line-delimited corpora (one row per line)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft_text").toString
    Files.write(java.nio.file.Paths.get(dir, "corpus.txt"),
      "first line\nsecond line\n\nfourth".getBytes("UTF-8"))
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.toSeq === Seq("first line", "second line", "", "fourth"))
  }

  test("all ten table loaders read and report expected sf0.001 row counts") {
    val expected = Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 150L, "supplier" -> 10L,
      "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L,
      "documents" -> 500L, "embeddings" -> 500L)
    expected.foreach { case (name, n) =>
      assert(Tables.table(spark, sf, name).count() === n, s"table $name")
    }
    assert(Tables.events(spark, sf).count() === 1000L)
  }

  test("events loader derives ts_utc from whichever raw ts era is on disk") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_utc").dataType.typeName === "timestamp")
    ev.schema("ts").dataType.typeName match {
      case "long" =>
        // ns era: conversion is pure truncation, ts_utc µs == ts DIV 1000
        assert(ev.filter(
          unix_micros(col("ts_utc")) =!= expr("ts DIV 1000")).count() === 0)
      case "timestamp_ntz" | "timestamp" =>
        // µs era (session TZ = UTC): same micros, just instant-tagged
        assert(ev.filter(unix_micros(col("ts_utc")) =!=
          unix_micros(col("ts").cast("timestamp"))).count() === 0)
      case other => fail(s"unexpected raw ts type $other")
    }
  }

  test("table catalog memoizes the resolved plan and invalidates on file rewrite") {
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    val dir = tempDir("graft_catalog").toString
    val dst = Paths.get(dir, "nation.parquet")
    NF.copy(Paths.get(s"$sf/nation.parquet"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    val a = Tables.table(spark, dir, "nation")
    val b = Tables.table(spark, dir, "nation")
    // Same session + same file fingerprint → the SAME analyzed DataFrame
    // (no second footer read), and it still executes.
    assert(a eq b)
    assert(a.count() === 25)
    // Simulate the corpus regeneration the driver performs mid-round:
    // replace the file (different bytes) and bump mtime. The catalog must
    // MISS — serving the old plan here would pin a stale schema/row set.
    NF.copy(Paths.get(s"$sf/region.parquet"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    assert(dst.toFile.setLastModified(System.currentTimeMillis() + 2000))
    val c = Tables.table(spark, dir, "nation")
    assert(!(c eq a))
    assert(c.columns.toSeq ===
      Tables.region(spark, sf).columns.toSeq)
    assert(c.count() === 5)
  }

  test("table catalog is safe under concurrent resolution from many threads") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 16 threads race to resolve + execute the same tables; computeIfAbsent
    // must hand every thread a working frame (multi-tenant sessions run
    // queries concurrently against one catalog in production).
    val counts = Await.result(
      Future.sequence((1 to 16).toList.map(i => Future {
        val t = if (i % 2 == 0) "nation" else "region"
        Tables.table(spark, sf, t).count()
      })), 120.seconds)
    assert(counts.count(_ == 25L) === 8)
    assert(counts.count(_ == 5L) === 8)
  }
}
