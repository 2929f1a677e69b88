package graft.pipeline

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.Staged.GenerationStore

/** The write-once generation store's commit contract, for the cases
  * the cache specs do not reach: a lost rename, a throwing write, and
  * the per-store counters.
  */
class GenerationStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def names(d: java.io.File): Seq[String] =
    Option(d.list()).getOrElse(Array.empty[String]).toSeq.sorted

  /** A committed-looking write: one payload file plus _SUCCESS. */
  private def writeMarked(payload: String)(tmp: String): Unit = {
    val d = new java.io.File(tmp)
    d.mkdirs()
    Files.write(new java.io.File(d, "payload").toPath, payload.getBytes("UTF-8"))
    Files.write(new java.io.File(d, "_SUCCESS").toPath, Array.emptyByteArray)
    ()
  }

  test("a committer that loses the rename adopts the winner and leaves no temp") {
    val parent = Files.createTempDirectory("genstore-race").toFile
    val store = new GenerationStore
    var inner: String = null
    // The second committer's write runs while a first committer (the
    // nested call) commits the same generation, so its rename loses.
    val outer = store.generation(parent, "t-1-aa", "t-") { tmp =>
      inner = store.generation(parent, "t-1-aa", "t-")(writeMarked("first"))
      writeMarked("second")(tmp)
    }
    val gen = new java.io.File(parent, "t-1-aa")
    assert(inner === gen.getPath)
    assert(outer === gen.getPath, "the loser must serve the winner's directory")
    assert(new String(Files.readAllBytes(new java.io.File(gen, "payload").toPath),
      "UTF-8") === "first")
    assert(names(parent) === Seq("t-1-aa"),
      "the losing committer must delete its .tmp- directory")
    assert(store.stats === ((0L, 2L)))
    // A third lookup is a hit and writes nothing.
    assert(store.generation(parent, "t-1-aa", "t-")(_ => fail("must not rebuild")) ===
      gen.getPath)
    assert(store.stats === ((1L, 2L)))
  }

  test("a write that throws leaves no generation and no temp; the next call rebuilds") {
    val parent = Files.createTempDirectory("genstore-throw").toFile
    val store = new GenerationStore
    val err = intercept[IllegalStateException] {
      store.generation(parent, "t-2-bb", "t-") { tmp =>
        writeMarked("partial")(tmp)
        throw new IllegalStateException("deliberate write failure")
      }
    }
    assert(err.getMessage === "deliberate write failure")
    assert(names(parent).isEmpty,
      s"a failed write left ${names(parent).mkString(", ")} behind")
    var rebuilt = false
    val out = store.generation(parent, "t-2-bb", "t-") { tmp =>
      rebuilt = true
      writeMarked("ok")(tmp)
    }
    assert(rebuilt, "the next call after a failed write must rebuild")
    assert(GenerationStore.live(new java.io.File(out)))
    assert(names(parent) === Seq("t-2-bb"))
  }

  test("an uncommitted directory at the generation name is replaced, not served") {
    val parent = Files.createTempDirectory("genstore-torso").toFile
    val torso = new java.io.File(parent, "t-3-cc")
    torso.mkdirs()
    Files.write(new java.io.File(torso, "part-0").toPath, Array[Byte](1))
    val store = new GenerationStore
    val out = store.generation(parent, "t-3-cc", "t-")(writeMarked("fresh"))
    assert(out === torso.getPath)
    assert(names(torso) === Seq("_SUCCESS", "payload"))
    assert(names(parent) === Seq("t-3-cc"))
  }

  test("the stage cache and the stream scratch keep separate hit/miss counts") {
    import org.apache.spark.sql.functions._
    val cacheDir = Files.createTempDirectory("genstore-stats").toString
    val prev = sys.props.get("graft.stagecache.dir")
    sys.props("graft.stagecache.dir") = cacheDir
    val sf = Files.createTempDirectory("genstore-in").toString
    spark.range(5).toDF("k").write.parquet(s"$sf/t.parquet")
    val tag = s"genstats${System.nanoTime() % 1000000}"
    val salted = spark.read.parquet(s"$sf/t.parquet")
      .select(col("k"), lit(System.nanoTime()).as("salt"))
    var streamOut: String = null
    try {
      val disk0 = Staged.diskCacheStats
      val gen0 = graft.streaming.StreamRuns.stagedGenStats
      Staged.spillThrough(spark, sf, tag)(salted)(salted).count()
      Staged.spillThrough(spark, sf, tag)(salted)(salted).count()
      val disk1 = Staged.diskCacheStats
      assert(disk1 === ((disk0._1 + 1, disk0._2 + 1)))
      assert(graft.streaming.StreamRuns.stagedGenStats === gen0,
        "a stage-cache lookup moved the stream-scratch counters")
      streamOut = graft.streaming.StreamRuns.stageAsFiles(salted, tag, 2, sf)
      graft.streaming.StreamRuns.stageAsFiles(salted, tag, 2, sf)
      assert(graft.streaming.StreamRuns.stagedGenStats ===
        ((gen0._1 + 1, gen0._2 + 1)))
      assert(Staged.diskCacheStats === disk1,
        "a stream-scratch lookup moved the stage-cache counters")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.stagecache.dir") = v
        case None => sys.props -= "graft.stagecache.dir"
      }
      if (streamOut != null) GenerationStore.deleteRecursively(new java.io.File(streamOut))
    }
  }
}
