package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}
import graft.pipeline.Staged.GenerationStore

/** File layouts committed as stage-cache generations ([[Staged.layout]])
  * and the LocalRelation rows [[Staged.planFingerprint]] folds in.
  */
class StagedLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `body(cacheDir)` with the stage cache pointed at a fresh directory. */
  private def withCache[T](body: String => T): T = {
    val cacheDir = Files.createTempDirectory("layout-cache").toString
    val prev = sys.props.get("graft.stagecache.dir")
    sys.props("graft.stagecache.dir") = cacheDir
    try body(cacheDir)
    finally prev match {
      case Some(v) => sys.props("graft.stagecache.dir") = v
      case None => sys.props -= "graft.stagecache.dir"
    }
  }

  /** name -> (size, mtime) of every file under `d`. */
  private def listing(d: File): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else Seq(f)
    walk(d).map(f => f.getPath.stripPrefix(d.getPath) -> ((f.length, f.lastModified))).toMap
  }

  test("a layout commits once; a later session's lookup is a hit that writes nothing") {
    val in = Files.createTempDirectory("layout-in").toString
    spark.range(20).toDF("k").write.parquet(s"$in/t.parquet")
    val salt = System.nanoTime()
    withCache { cacheDir =>
      var writes = 0
      def stage(session: org.apache.spark.sql.SparkSession, kind: String): String = {
        val df = session.read.parquet(s"$in/t.parquet")
          .select(col("k"), lit(salt).as("salt"))
        Staged.layout(in, "layoutspec", kind, Seq(df)) { out =>
          writes += 1
          df.repartition(2).write.parquet(s"$out/data")
        }
      }
      val (h0, m0) = Staged.diskCacheStats
      val first = stage(spark, "two")
      assert(Staged.diskCacheStats === ((h0, m0 + 1)))
      assert(new File(first).getParentFile.getParent === cacheDir)
      assert(new File(first).getName.startsWith("layoutspec-two-"))
      assert(GenerationStore.live(new File(first)),
        "the store must add _SUCCESS at the root of a writer that left none")
      val before = listing(new File(first))
      assert(before.keys.exists(_.contains("part-")))

      Staged.clear()
      val again = stage(spark.newSession(), "two")
      assert(again === first, "the same layout must resolve to the same generation")
      assert(Staged.diskCacheStats === ((h0 + 1, m0 + 1)))
      assert(writes === 1, "a hit must not run the writer")
      assert(listing(new File(first)) === before, "a hit rewrote files")

      val other = stage(spark, "three")
      assert(other !== first, "a different kind must name a different generation")
      assert(Staged.diskCacheStats === ((h0 + 1, m0 + 2)))
      assert(Option(new File(first).getParentFile.list()).getOrElse(Array.empty[String])
        .forall(n => !n.contains(".tmp-")))
    }
  }

  test("the GraftTsv layout's _SUCCESS does not change the aggregate-pushdown row count") {
    val sf = Files.createTempDirectory("layout-sf").toString
    spark.range(40).select(col("id").as("doc_id"), lit("en").as("lang"),
        lit("web").as("source"), (col("id") * 3).as("n_chars"),
        concat(lit("text "), col("id").cast("string")).as("text"))
      .write.parquet(s"$sf/documents.parquet")
    withCache { _ =>
      val got = SparkEntry.queries("scan_dsv2_agg_pushdown")(spark, sf).head()
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((40L, 0L, 39L)))
      val layout = new File(graft.queries.Relational.gtsvFiles(spark, sf))
      assert(GenerationStore.live(layout))
      assert(graft.sources.GraftTsv.listGtsv(layout.getPath).nonEmpty)
    }
  }

  test("LocalRelation rows reach the plan fingerprint") {
    val s = spark
    import s.implicits._
    def fp(df: org.apache.spark.sql.DataFrame) = Staged.planFingerprint(df.queryExecution.logical)
    val a = Seq(("view", "browse"), ("click", "conv")).toDF("event_type", "category")
    val b = Seq(("view", "browse"), ("click", "acct")).toDF("event_type", "category")
    val a2 = Seq(("view", "browse"), ("click", "conv")).toDF("event_type", "category")
    assert(fp(a) !== fp(b), "frames differing only in a row must not share a fingerprint")
    assert(fp(a) === fp(a2))
    // A plan without in-memory rows keeps the fingerprint of its
    // rendering alone, so existing generation names stay valid.
    val in = Files.createTempDirectory("layout-fp").toString
    spark.range(5).toDF("k").write.parquet(s"$in/t.parquet")
    val scan = spark.read.parquet(s"$in/t.parquet").select("k")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(Staged.stableLambdas(scan.queryExecution.logical.canonicalized
      .treeString(verbose = false, addSuffix = false,
        maxFields = Int.MaxValue, printOperatorId = false)).getBytes("UTF-8"))
    val rendered = (math.abs(java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong) &
      0x7fffffff).toString
    assert(fp(scan) === rendered)
  }
}
