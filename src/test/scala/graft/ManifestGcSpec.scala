package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** Executes the GC plan pipeline_manifest_gc only REPORTS — on a copy
  * of the staged layout — and pins the contract that makes snapshot
  * expiry safe: deleting every non-live file leaves exactly the
  * latest-manifest snapshot readable, and the plan's three classes
  * partition the physical file set.
  */
class ManifestGcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def walk(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else Seq(f)

  test("executing the plan leaves exactly the live snapshot") {
    // Run the query first: it stages the two-snapshot layout and
    // returns the plan; sf0.001's documents table drives the content.
    val plan = SparkEntry.queries("pipeline_manifest_gc")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(plan.keySet === Set("live", "expired", "orphan"))
    assert(plan("expired")._1 === 2L && plan("live")._1 === 1L)
    // Compaction preserved the snapshot: expired rows == live rows.
    assert(plan("expired")._2 === plan("live")._2)

    val src = graft.queries.Relational.manifestGc(spark, sf)
    val dst = Files.createTempDirectory("gc-exec").toFile
    walk(new File(src)).foreach { f =>
      val rel = f.getPath.stripPrefix(s"$src/")
      val to = new File(dst, rel)
      to.getParentFile.mkdirs()
      Files.copy(f.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    def manifest(v: String): Set[String] = new String(
      Files.readAllBytes(Paths.get(s"$dst/manifest_$v.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
    val v1 = manifest("v1")
    val v2 = manifest("v2")
    val all = walk(new File(s"$dst/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getPath.stripPrefix(s"$dst/"))
    // The classes partition the file set, and counts match the plan.
    val live = all.filter(v2)
    val expired = all.filter(f => v1(f) && !v2(f))
    val orphan = all.filterNot(f => v1(f) || v2(f))
    assert(live.size.toLong === plan("live")._1)
    assert(expired.size.toLong === plan("expired")._1)
    assert(orphan.size.toLong === plan("orphan")._1)
    assert(live.size + expired.size + orphan.size === all.size)

    // EXECUTE: delete everything non-live, then the latest snapshot
    // must still read complete and nothing else must remain.
    (expired ++ orphan).foreach(f => assert(new File(dst, f).delete()))
    val left = walk(new File(s"$dst/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getPath.stripPrefix(s"$dst/")).toSet
    assert(left === v2)
    val rows = spark.read.parquet(live.map(f => s"$dst/$f"): _*).count()
    assert(rows === plan("live")._2)
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 2 = 0").count()
    assert(rows === want)
  }
}
