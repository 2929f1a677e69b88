package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet for the harness's configuration surface, in
  * [[EagerWriteLintSpec]]'s style. Under `src/main/scala`:
  *  - only `SparkConfs.scala` builds a SparkSession, so every session
  *    gets the same shared settings;
  *  - no string literal starts with the checkout's absolute path —
  *    paths under it derive from `SparkConfs.targetDir`;
  *  - no string literal outside `SparkConfs.scala` holds the data root —
  *    data paths derive from `SparkConfs.dataRoot`;
  *  - the environment is read only by literal name, and only the
  *    [[Kept]] names. A new knob must be a constant unless two callers
  *    need different values, and then it is added here in review;
  *  - only `Stages.scala` (the write-once generation store) holds the
  *    `"_SUCCESS"` liveness literal or a 24 h millisecond constant, so
  *    a second commit-and-prune path cannot grow back beside it;
  *  - every literal tag passed to a staging function has exactly one
  *    call site, so each staged artifact has one builder, and the
  *    `toDF("ok")` once-per-session latch lives only in
  *    `bucketedTables` (layouts are `Staged.layout` generations).
  * Under `src/test/scala` too, no string literal starts with the
  * checkout's absolute path.
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
    "SPARK_GRAFT_ONLY") // Bench's dev subset filter

  private val BuilderRe = """SparkSession\s*\.\s*builder\b""".r
  private val EnvRefRe = """\bsys\.env\b|\bSystem\.getenv\b""".r
  private val EnvNameRe =
    """(?:\bsys\.env|\bSystem\.getenv)(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]*)"""".r
  /** `"` followed by the checkout's absolute path. */
  private val RepoRoot = "\"" + new java.io.File(SparkConfs.targetDir).getParent
  /** A string literal holding the data root. */
  private val DataRootRe = ("\"[^\"]*" + java.util.regex.Pattern.quote(SparkConfs.dataRoot)).r

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
          (if (baseName != "SparkConfs.scala" && DataRootRe.findFirstIn(l).nonEmpty)
            Seq(s"$at: data-root string literal") else Nil) ++
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

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Openers of the staging calls whose first plain string literal
    * argument is the staged tag.
    */
  private val StageCallRe =
    """\b(?:Staged(?:\.disk|\.layout)?|diskKeyed|fixedStaged|stageAsFiles|stageAsPartitionedTree)\s*\(""".r

  /** (tag, `file:line`) of every staging call in one file's text whose
    * first argument list holds a plain (not interpolated) string
    * literal; comment lines are blanked first.
    */
  private[graft] def stagedTags(baseName: String, content: String): Seq[(String, String)] = {
    val text = content.split("\n", -1).map(l => if (isComment(l)) "" else l).mkString("\n")
    StageCallRe.findAllMatchIn(text).flatMap { m =>
      var (i, depth, tag) = (m.end, 1, Option.empty[String])
      while (i < text.length && depth > 0 && tag.isEmpty) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '"' =>
            val close = text.indexOf('"', i + 1)
            if (depth == 1 && !text(i - 1).isLetter) tag = Some(text.substring(i + 1, close))
            i = close
          case _ =>
        }
        i += 1
      }
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      tag.map(t => (t, s"$baseName:$line"))
    }.toSeq
  }

  /** Tags staged at more than one call site across `files`. */
  private[graft] def duplicateTags(files: Seq[(String, String)]): Seq[String] =
    files.flatMap { case (n, c) => stagedTags(n, c) }.groupBy(_._1).toSeq.sortBy(_._1)
      .collect { case (t, sites) if sites.size > 1 =>
        s"tag $t staged at ${sites.map(_._2).mkString(", ")}" }

  /** The member a line belongs to: the nearest preceding def, val or
    * object at member indentation (two spaces at most), or QDef row.
    */
  private val MemberRe =
    """^\s{0,2}(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:def|val|lazy val|object)\s+(\w+)|^\s{0,4}QDef\("(\w+)"""".r

  /** `toDF("ok")` marker latches outside `bucketedTables`. */
  private[graft] def latchScan(baseName: String, content: String): Seq[String] = {
    val lines = content.split("\n", -1)
    lines.indices.filter(i => !isComment(lines(i)) && lines(i).contains("toDF(\"ok\")"))
      .filterNot { i =>
        (i to 0 by -1).iterator.flatMap(j => MemberRe.findFirstMatchIn(lines(j)))
          .nextOption().exists(m => Option(m.group(1)).contains("bucketedTables"))
      }
      .map(i => s"$baseName:${i + 1}: marker latch outside bucketedTables")
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
        |  val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "${SparkConfs.dataRoot}/sf0.1")
        |  val e = s"$${SparkConfs.dataRoot}/sf0.001"
        |}""".stripMargin
    val (bad, names) = scan("Evil.scala", planted)
    assert(bad == Seq(
      "Evil.scala:3: SparkSession.builder outside SparkConfs",
      "Evil.scala:4: repo-root string literal",
      "Evil.scala:5: environment name SPARK_GRAFT_NEW_KNOB",
      "Evil.scala:6: environment read without a literal name",
      "Evil.scala:8: data-root string literal"))
    assert(names == Set("SPARK_GRAFT_NEW_KNOB", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"))
    assert(scan("SparkConfs.scala", "  SparkSession.builder().appName(app)")._1.isEmpty)
    assert(scan("SparkConfs.scala", s"""  val dataRoot: String = "${SparkConfs.dataRoot}"""")._1.isEmpty)
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

  private def mainSources: Seq[(String, String)] =
    scalaFilesUnder(new java.io.File(Root)).map { f =>
      (f.getName, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }

  test("main code: one call site per literal staged tag, one marker latch") {
    val sources = mainSources
    assert(sources.flatMap { case (n, c) => stagedTags(n, c) }.size > 40,
      "the staged-tag scan found too few tags to mean anything")
    val bad = duplicateTags(sources) ++ sources.flatMap { case (n, c) => latchScan(n, c) }
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  test("planted duplicate tags and marker latches are caught") {
    val a =
      """object A {
        |  // Staged.disk(s, dir, "dup") in a comment is fine
        |  def x = graft.pipeline.Staged.disk(s, dir, "dup") { build(s) }
        |  def y = Staged.diskKeyed(s, dir,
        |    "keyed")(key(f("k"))) { b }
        |  def z(tag: String) = Staged.disk(s, dir, tag)(b)
        |  def w = StreamRuns.stageAsFiles(p1, s"2p-$tag-p1", 2, dir)
        |  def v = StreamRuns.stageAsFiles(feed(s, "x"), "feed", 4, dir)
        |  def u = Staged.layout(dir, "lay", "8", Seq(docs))(write(_))
        |  def latch = Staged(s, dir, "latch") { s.range(1).toDF("ok") }
        |}""".stripMargin
    val b =
      """object B {
        |  private def bucketedTables(s: SparkSession) = {
        |    Staged(s, dir, "bucketed_tables") {
        |      def loc(t: String) = t
        |      s.range(1).toDF("ok")
        |    }
        |  }
        |  val all = Seq(
        |    QDef("q", (s, dir) => Panels.fixedStaged(s, dir, "dup")(df, "k", 5)),
        |    QDef("r", (s, dir) => { Staged(s, dir, "once"); s.range(1).toDF("ok") }))
        |}""".stripMargin
    assert(stagedTags("A.scala", a) === Seq("dup" -> "A.scala:3", "keyed" -> "A.scala:4",
      "feed" -> "A.scala:8", "lay" -> "A.scala:9", "latch" -> "A.scala:10"))
    assert(duplicateTags(Seq("A.scala" -> a, "B.scala" -> b)) ===
      Seq("tag dup staged at A.scala:3, B.scala:9"))
    assert(latchScan("A.scala", a) === Seq("A.scala:10: marker latch outside bucketedTables"))
    assert(latchScan("B.scala", b) === Seq("B.scala:10: marker latch outside bucketedTables"))
  }

  test("test code: no repo-root literal") {
    val bad = scalaFilesUnder(new java.io.File("src/test/scala")).flatMap { f =>
      scan(f.getName, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))._1
        .filter(_.endsWith(": repo-root string literal"))
    }
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }
}
