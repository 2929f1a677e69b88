package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet for the harness's configuration surface, in
  * [[EagerWriteLintSpec]]'s style. Under `src/main/scala`:
  *  - only `SparkConfs.scala` builds a SparkSession, so every session
  *    gets the same shared settings;
  *  - no string literal starts with the checkout's absolute path —
  *    paths under it derive from `SparkConfs.targetDir`;
  *  - the environment is read only by literal name, and only the
  *    [[Kept]] names. A new knob must be a constant unless two callers
  *    need different values, and then it is added here in review;
  *  - only `Stages.scala` (the write-once generation store) holds the
  *    `"_SUCCESS"` liveness literal or a 24 h millisecond constant, so
  *    a second commit-and-prune path cannot grow back beside it.
  *
  * Comment and scaladoc lines are skipped.
  */
class HarnessLintSpec extends AnyFunSuite {

  private val Root = "src/main/scala"

  /** Every environment name main code reads. Removing a read must
    * shrink this set too, or a later re-addition would pass unreviewed.
    */
  private val Kept = Set(
    "SPARK_GRAFT_CPUS", // local task threads (SparkConfs.cpus)
    "SPARK_GRAFT_SF_DIR", // Bench's scale-factor directory
    "SPARK_GRAFT_STAGECACHE", // stage-cache path
    "SPARK_GRAFT_STREAM_SCRATCH", // stream scratch path
    "SPARK_GRAFT_ONLY", // Bench's dev subset filter
    "SPARK_GRAFT_STAGERS") // PlanDump's un-timed stagers

  private val BuilderRe = """SparkSession\s*\.\s*builder\b""".r
  private val EnvRefRe = """\bsys\.env\b|\bSystem\.getenv\b""".r
  private val EnvNameRe =
    """(?:\bsys\.env|\bSystem\.getenv)(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]*)"""".r
  /** `"` followed by the checkout's absolute path. */
  private val RepoRoot = "\"" + new java.io.File(SparkConfs.targetDir).getParent

  /** (violations, environment names read) for one file's text. */
  private[graft] def scan(baseName: String, content: String): (Seq[String], Set[String]) = {
    val perLine = content.split("\n", -1).toSeq.zipWithIndex.map { case (l, i) =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) (Nil, Nil)
      else {
        val at = s"$baseName:${i + 1}"
        val names = EnvNameRe.findAllMatchIn(l).map(_.group(1)).toSeq
        val bad =
          (if (baseName != "SparkConfs.scala" && BuilderRe.findFirstIn(l).nonEmpty)
            Seq(s"$at: SparkSession.builder outside SparkConfs") else Nil) ++
          (if (l.contains(RepoRoot)) Seq(s"$at: repo-root string literal") else Nil) ++
          (if (EnvRefRe.findAllMatchIn(l).size > names.size)
            Seq(s"$at: environment read without a literal name") else Nil) ++
          names.filterNot(Kept).map(n => s"$at: environment name $n")
        (bad, names)
      }
    }
    (perLine.flatMap(_._1), perLine.flatMap(_._2).toSet)
  }

  private val SuccessRe = "\"_SUCCESS\"".r
  /** 24 h in milliseconds: `24L * 3600 * 1000`, `24 * 60 * 60 * 1000`,
    * `Duration.ofHours(24)`, `ofDays(1)`, `HOURS.toMillis(24)`.
    */
  private val DayMsRe =
    """\b24L?\s*\*\s*(?:3600L?|60L?\s*\*\s*60L?)\s*\*\s*1000L?\b|\bofHours\(\s*24L?\s*\)|\bofDays\(\s*1L?\s*\)|\btoMillis\(\s*24L?\s*\)""".r

  /** Generation-store violations in one file's text (comments skipped). */
  private[graft] def storeScan(baseName: String, content: String): Seq[String] =
    if (baseName == "Stages.scala") Nil
    else content.split("\n", -1).toSeq.zipWithIndex.flatMap { case (l, i) =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Nil
      else {
        val at = s"$baseName:${i + 1}"
        (if (SuccessRe.findFirstIn(l).nonEmpty) Seq(s"$at: _SUCCESS probe outside Stages") else Nil) ++
          (if (DayMsRe.findFirstIn(l).nonEmpty) Seq(s"$at: 24 h grace outside Stages") else Nil)
      }
    }

  private def scalaFilesUnder(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
      .flatMap { f =>
        if (f.isDirectory) scalaFilesUnder(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }

  test("main code: one session builder, no repo-root literal, only the kept env names") {
    val scans = scalaFilesUnder(new java.io.File(Root)).map { f =>
      scan(f.getName, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    assert(scans.nonEmpty)
    val bad = scans.flatMap(_._1)
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
    val read = scans.flatMap(_._2).toSet
    assert(read == Kept, s"no longer read (shrink Kept): ${(Kept -- read).mkString(", ")}")
  }

  test("planted violations are caught and comments are skipped") {
    val planted =
      s"""object Evil {
        |  // SparkSession.builder() in a comment is fine
        |  val s = SparkSession.builder().getOrCreate()
        |  val p = s$RepoRoot/target/x"
        |  val k = sys.env.getOrElse("SPARK_GRAFT_NEW_KNOB", "1")
        |  def env(k: String) = sys.env.get(k)
        |  val c = sys.env.get("SPARK_GRAFT_CPUS")
        |}""".stripMargin
    val (bad, names) = scan("Evil.scala", planted)
    assert(bad == Seq(
      "Evil.scala:3: SparkSession.builder outside SparkConfs",
      "Evil.scala:4: repo-root string literal",
      "Evil.scala:5: environment name SPARK_GRAFT_NEW_KNOB",
      "Evil.scala:6: environment read without a literal name"))
    assert(names == Set("SPARK_GRAFT_NEW_KNOB", "SPARK_GRAFT_CPUS"))
    assert(scan("SparkConfs.scala", "  SparkSession.builder().appName(app)")._1.isEmpty)
  }

  test("main code: one generation store holds the _SUCCESS probe and the 24 h grace") {
    val bad = scalaFilesUnder(new java.io.File(Root)).flatMap { f =>
      storeScan(f.getName, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  test("planted generation-store violations are caught outside Stages.scala only") {
    val planted =
      """object Evil {
        |  // new java.io.File(d, "_SUCCESS") in a comment is fine
        |  def live(d: java.io.File) = new java.io.File(d, "_SUCCESS").exists()
        |  private val Grace = 24L * 3600 * 1000
        |  private val Grace2 = java.time.Duration.ofHours(24).toMillis
        |  private val Sweep = 2L * 3600 * 1000
        |  val cut = raw - raw % 86400000L
        |}""".stripMargin
    assert(storeScan("Evil.scala", planted) == Seq(
      "Evil.scala:3: _SUCCESS probe outside Stages",
      "Evil.scala:4: 24 h grace outside Stages",
      "Evil.scala:5: 24 h grace outside Stages"))
    assert(storeScan("Stages.scala", planted).isEmpty)
  }
}
