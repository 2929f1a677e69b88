package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Staged
import graft.queries.QDef

/** The session factory and the target root: the test session carries
  * every shared setting Bench and Verify get, and the stage cache and
  * query scratch live under the one anchored `target/` directory.
  */
class SparkConfsSpec extends AnyFunSuite {

  test("the test session carries every shared setting") {
    val spark = SparkTestSession.spark
    // Once the shared state is up, the warehouse path carries its scheme.
    for ((k, v) <- SparkConfs.shared) assert(spark.conf.get(k).stripPrefix("file:") == v, k)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the stage cache and query scratch lie under the target root") {
    val target = new File(SparkConfs.targetDir)
    assert(target.isAbsolute && target.getName == "target")
    assume(sys.props.get("graft.stagecache.dir").isEmpty &&
      sys.env.get("SPARK_GRAFT_STAGECACHE").isEmpty, "stage cache overridden")
    assert(new File(Staged.cacheRoot).getParentFile == target)
    assert(new File(QDef.scratch("sparkconfs-spec")).toPath.startsWith(target.toPath))
  }
}
