package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Ann, Ivf, Pca, Pq, Pipeline}

/** Dev tool: recall@10 of every ANN tier against the exact cosine
  * top-10 (probe vec 0) at a given sf dir, plus the regime context
  * (exact top-10 sim range, ladder sizes) needed to interpret it —
  * random-hyperplane LSH recall depends on the probe-to-neighbour
  * ANGLE, so the sim range says what recall is even achievable per
  * nprobe. Usage, after `sbt Test/compile`:
  * tools/run_main.sh graft.RecallProbe <sfDir> [--plant]
  *
  * `--plant` (r14 verdict item 3): measure the PLANTED-NEIGHBOUR
  * regime instead of the corpus's natural one. The blow-up corpora
  * plant no near neighbours (exact top-10 sims 0.47–0.53 at 100×), so
  * un-planted recall at scale reads the nprobe/bucket REGIME CAP, not
  * index quality — the number a user cares about (does the index find
  * genuine near-duplicates?) needs genuine near-duplicates. The flag
  * builds a variant corpus under /tmp with 10 deterministic
  * perturbations of probe vec 0 appended (cos ≈ 0.955–0.995, far above
  * any natural neighbour), so the exact top-10 IS the planted set and
  * every tier's recall@10 measures retrieval of true near-dups.
  * Not part of the driver contract; RecallSpec pins the floors.
  */
object RecallProbe {

  /** Append `k` deterministic near-duplicates of probe vec 0 to
    * `srcDir`'s embeddings table, writing the variant corpus to
    * `outDir` (embeddings only — every ANN tier reads just that
    * table). Planted vec i perturbs one coordinate by
    * (0.10 + 0.02·i)·‖v₀‖, giving cos(v₀, vᵢ) ≈ 1 − ε²/2 ∈
    * [0.955, 0.995] — a genuine near-dup ladder, each step far above
    * the blow-up corpora's natural sim ceiling (~0.53). Returns the
    * planted (vec_id, cos-to-probe) pairs. Shared by the --plant mode
    * and RecallSpec's planted-regime floor pins.
    */
  def plantNeighbours(spark: SparkSession, srcDir: String, outDir: String,
      k: Int = 10): Seq[(Long, Double)] = {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val row0 = e.filter(col("vec_id") === 0).collect()(0)
    val v0 = row0.getSeq[Float](row0.fieldIndex("embedding")).toArray
    val maxId = e.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val norm0 = math.sqrt(v0.map(x => x.toDouble * x).sum)
    val planted = (1 to k).map { i =>
      val eps = (0.10 + 0.02 * i) * norm0
      val dim = (i * 7) % v0.length // spread the perturbed coordinate
      val v = v0.clone()
      v(dim) = (v(dim) + eps).toFloat
      val dot = v0.indices.map(j => v0(j).toDouble * v(j)).sum
      val cos = dot / (norm0 * math.sqrt(v.map(x => x.toDouble * x).sum))
      (maxId + i, v.toSeq, cos)
    }
    // planted rows inherit every non-key field from row 0 verbatim, so
    // the variant schema matches whatever the corpus era shipped
    val rows = planted.map { case (id, v, _) =>
      org.apache.spark.sql.Row.fromSeq(e.schema.fieldNames.map {
        case "vec_id" => id
        case "embedding" => v
        case other => row0.get(row0.fieldIndex(other))
      }.toSeq)
    }
    val extra = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      e.schema)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    e.unionByName(extra).coalesce(4)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    planted.map { case (id, _, cos) => (id, cos) }
  }

  def main(args: Array[String]): Unit = {
    val plant = args.contains("--plant")
    val srcDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    // Corpus guard first (on the SOURCE), then optionally derive the
    // planted variant from it.
    require(new java.io.File(srcDir).isDirectory,
      s"$srcDir absent — pass an existing corpus dir")
    val spark = GraftSession.start()

    val sfDir =
      if (!plant) srcDir
      else {
        val out = "/tmp/graft_planted_" +
          srcDir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_")
        val ids = plantNeighbours(spark, srcDir, out)
        println(s"planted ${ids.size} near-dups of vec 0 into $out: " +
          ids.map { case (id, c) => f"$id(cos=$c%.3f)" }.mkString(", "))
        out
      }

    val exactRows = Pipeline.udfCosineTopk(spark, sfDir).collect()
    val exact = exactRows.map(_.getLong(0)).toSet
    println(f"exact top-10 sims: ${exactRows.map(_.getDouble(1)).min}%.4f .. " +
      f"${exactRows.map(_.getDouble(1)).max}%.4f")

    def recall(name: String, ids: Array[Long]): Unit =
      println(f"$name%-22s rows=${ids.length}%3d recall@10=${ids.count(exact.contains) / 10.0}%.2f")

    recall("knn_ann", Ann.knnAnn(spark, sfDir).collect().map(_.getLong(0)))
    for (np <- Seq(2, 4, 7))
      recall(s"knn_ann_probing($np)",
        Ann.knnAnnProbing(spark, sfDir, np).collect().map(_.getLong(0)))
    recall("knn_quant", Ann.knnQuant(spark, sfDir).collect().map(_.getLong(0)))
    recall("knn_ivf", Ivf.knnIvf(spark, sfDir).collect().map(_.getLong(0)))
    recall("knn_ivfpq", Pq.knnIvfPq(spark, sfDir).collect().map(_.getLong(0)))
    recall("knn_pq", Pq.knnPq(spark, sfDir).collect().map(_.getLong(0)))
    recall("knn_pca", Pca.knnPca(spark, sfDir).collect().map(_.getLong(0)))

    // IVF nprobe-vs-recall curve (r14): quantifies what the √cells
    // default buys and what more probing would cost — the knob a
    // deployment turns when the measured recall (0.40 at 100× in the
    // no-planted-neighbour regime) isn't enough for its use case.
    // nprobe = cells is exact-by-construction (sanity anchor).
    val cells = Ivf.cellCount(Ann.embedCount(spark, sfDir))
    val np0 = Ivf.defaultNprobe(cells)
    for (np <- Seq(np0, np0 * 2, np0 * 4, cells).distinct.filter(_ <= cells))
      recall(f"knn_ivf_np($np%d/$cells%d)",
        Ivf.knnIvfProbing(spark, sfDir, np).collect().map(_.getLong(0)))

    val sel = Ann.selectedBuckets(spark, sfDir)
    val qsel = Ann.knnQuantBuckets(spark, sfDir)
    println(s"selectedBuckets(K)=${sel.mkString(",")}  quantBuckets=${qsel.mkString(",")}")
    import org.apache.spark.sql.functions._
    val mean5 = Ann.knnRecallEval(spark, sfDir)
      .agg(avg(col("recall_at_5"))).collect()(0).getDouble(0)
    println(f"knn_recall_eval mean recall@5 = $mean5%.3f")
    spark.stop()
  }
}
