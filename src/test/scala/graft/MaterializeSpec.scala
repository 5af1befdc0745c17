package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.{DataFingerprint, Materialize}

/** The artifact cache now backs ~30 declared queries (signature tables,
  * fingerprint indexes, ranking snapshots, statistics — the r12
  * ladder), so its staleness behavior is load-bearing: a stale serve
  * after a corpus rewrite would make every consumer silently wrong.
  * Pins, for both the written ([[Materialize.once]]) and the in-memory
  * ([[Materialize.model]]) entry point: build-once per content, REBUILD
  * on content change (same path), kind isolation, and read-back value
  * fidelity — plus that the operators keep no cache beside it.
  */
class MaterializeSpec extends SparkTestBase {

  private val sp = spark
  import sp.implicits._

  /** A throwaway "sfDir" holding one synthetic table file. */
  private def writeTable(dir: java.nio.file.Path, rows: Seq[Long],
      mtimeMs: Long): Unit = {
    val tmp = tempDir("graft_mat_tbl")
    rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val dst = dir.resolve("documents.parquet")
    Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
  }

  /** The cache contract, against either entry point: `cached(kind)`
    * must return the sum (or, for `*_cnt` kinds, the count) of the
    * source's `v` column, running `onBuild` only when it builds.
    */
  private def cacheSteps(cached: (String, String, () => Unit) => Long): Unit = {
    val dir = tempDir("graft_mat_sf")
    val now = System.currentTimeMillis()
    writeTable(dir, Seq(1L, 2L, 3L), now - 60000)

    var builds = 0
    def artifact(kind: String) = cached(dir.toString, kind, () => builds += 1)

    // 1. first use builds; repeated use serves the cached value
    assert(artifact("spec_mat_sum") === 6L)
    assert(builds === 1)
    (1 to 3).foreach(_ => assert(artifact("spec_mat_sum") === 6L))
    assert(builds === 1, "by-name build must not re-evaluate on hits")

    // 2. a DIFFERENT kind over the same sources is its own artifact
    assert(artifact("spec_mat_cnt") === 3L)
    assert(builds === 2)

    // 3. REWRITING the source (new content + mtime) must invalidate:
    //    the fingerprint changes, so the artifact rebuilds from the
    //    new data — a stale serve here would poison every consumer
    val fpBefore = DataFingerprint.ofTable(dir.toString, "documents")
    writeTable(dir, Seq(10L, 20L, 30L, 40L), now - 30000)
    val fpAfter = DataFingerprint.ofTable(dir.toString, "documents")
    assert(fpBefore !== fpAfter, "fingerprint must see the rewrite")
    assert(artifact("spec_mat_sum") === 100L,
      "rewritten source must serve the NEW artifact content")
    assert(builds === 3)

    // 4. and the new artifact is itself cached
    assert(artifact("spec_mat_sum") === 100L)
    assert(builds === 3)
  }

  private def aggregate(dir: String, kind: String) = {
    val v = spark.read.parquet(s"$dir/documents.parquet")
    if (kind.endsWith("_cnt")) v.agg(count(lit(1)).as("n"))
    else v.agg(sum(col("v")).cast("long").as("s"))
  }

  test("once(): builds once per content, rebuilds on rewrite, isolates kinds") {
    cacheSteps { (dir, kind, onBuild) =>
      Materialize.once(spark, dir, Seq("documents"), kind)({
        onBuild()
        aggregate(dir, kind)
      }).collect()(0).getLong(0)
    }
  }

  test("model(): builds once per content, rebuilds on rewrite, isolates kinds") {
    cacheSteps { (dir, kind, onBuild) =>
      Materialize.model(dir, Seq("documents"), kind) {
        onBuild()
        aggregate(dir, kind).collect()(0).getLong(0)
      }
    }
  }

  test("model(): unregistered kinds are refused") {
    val e = intercept[IllegalArgumentException] {
      Materialize.model(sf, Seq("documents"), "drive_by_model")(1L)
    }
    assert(e.getMessage.contains("unregistered artifact kind"))
  }

  test("the similarity family's models, PQ codes and bucketed join tables reach the build ledger") {
    val dir = tempDir("graft_mat_ledger")
    val before = Materialize.buildTimes
    Seq("embeddings", "orders", "customer").foreach(t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    Seq("knn_pq", "knn_ivfpq", "embed_pca", "join_bucketed")
      .foreach(q => SparkEntry.queries(q)(spark, dir.toString).collect())
    val after = Materialize.buildTimes
    val kinds = Seq("embeddings_count", "probe_vec0", "ivf_centers",
      "ivf_cell_counts", "pca_full_rank", "pq_codebook_k32",
      "ivfpq_codebook_k32", "pq_codes_k32", "ivfpq_codes_k32",
      "bucketed_join_b16")
    val missing = kinds.filterNot(k =>
      after.getOrElse(k, 0.0) > before.getOrElse(k, 0.0))
    assert(missing.isEmpty, s"builds missing from Materialize.buildTimes: $missing")
  }

  test("operators/ keeps no cache of its own: derived state goes through Materialize") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val banned = Seq(
      "TrieMap" -> """TrieMap""".r,
      "a mutable map or set field" ->
        """^  (private\S*\s+)?(lazy\s+)?va[lr]\s.*mutable\.\w*(Map|Set)\b""".r,
      "a temp root" -> """createTempDirectory|deleteOnExit""".r,
      "a content fingerprint" -> """DataFingerprint""".r)
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          banned.collect { case (what, re) if re.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: $what: ${line.trim}" }
        }
      }.toList
    assert(offenders.isEmpty,
      "build per-corpus state through Materialize.model/once:\n" +
        offenders.mkString("\n"))
  }

  test("once(): an in-place rewrite that only touches a part file still invalidates") {
    // Tables.dataFingerprint's documented hazard: a directory's own
    // mtime may not change when a part inside is rewritten. The
    // artifact fingerprint lists the FILES, so it must move.
    val dir = tempDir("graft_mat_sf2")
    val now = System.currentTimeMillis()
    writeTable(dir, Seq(5L), now - 90000)
    val before = DataFingerprint.ofTable(dir.toString, "documents")
    // same row count, same byte-length class, different mtime
    writeTable(dir, Seq(7L), now - 45000)
    val after = DataFingerprint.ofTable(dir.toString, "documents")
    assert(before !== after)
  }
}
