package etlbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

/** Seeded inputs. Every table is a pure function of (seed, row id), so
  * one seed gives the same rows, and the same bytes, on any machine and
  * partitioning. The shape follows the program's TPC-H-like testdata
  * (orders, customer, nation, lineitem, part: the tables the document
  * corpus is derived from), with fixed row counts so that every seed
  * gives the program the same amount of work.
  */
object Gen {

  /** Row counts for a corpus of `orders` documents, in the testdata's
    * proportions: a tenth as many customers, 2/15 as many parts and
    * four line items per order on average.
    */
  final case class Sizes(orders: Int) {
    val customers: Int = math.max(50, orders / 10)
    val parts: Int = math.max(100, orders * 2 / 15)
    val lineitems: Int = orders * 4
  }

  private val Adjectives = Seq("small", "red", "blue", "hot", "old", "large", "green", "cold")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring")
  private val PartTypes = Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Seq("F", "O", "P")

  /** Uniform integer in [0, m) for (seed, salt, id): SplitMix64's mixer
    * over a linear combination of the three.
    */
  def u(seed: Long, salt: Int, id: Long, m: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    java.lang.Math.floorMod(z ^ (z >>> 31), m)
  }

  private val Epoch1995Days = java.time.LocalDate.parse("1995-01-01").toEpochDay

  /** Every column value of the seeded tables, by table and row id. The
    * parquet tables and the XML corpus are both written from these.
    */
  final class Rows(seed: Long, val n: Sizes) {
    private def pick(salt: Int, id: Long, xs: Seq[String]): String =
      xs(u(seed, salt, id, xs.size.toLong).toInt)

    def nationName(id: Long): String = s"NATION_$id"
    def customerName(id: Long): String = f"Customer#$id%09d"
    def customerNation(id: Long): Int = u(seed, 1, id, 25).toInt
    def partName(id: Long): String = s"${pick(10, id, Adjectives)} ${pick(11, id, Nouns)}"
    def partBrand(id: Long): String = s"Brand#${u(seed, 12, id, 25) + 1}"
    def partType(id: Long): String = pick(13, id, PartTypes)
    def orderCustomer(id: Long): Long = u(seed, 20, id, n.customers.toLong)
    def orderStatus(id: Long): String = pick(21, id, Statuses)
    def orderDay(id: Long): Long = Epoch1995Days + u(seed, 23, id, 2404)
    def orderPriority(id: Long): String = pick(24, id, Priorities)
    def lineOrder(id: Long): Long = u(seed, 30, id, n.orders.toLong)
    def linePart(id: Long): Long = u(seed, 31, id, n.parts.toLong)
  }

  /** One parquet file `<dir>/<name>.parquet/part-00000.parquet` of `rows`
    * rows, written with parquet's own writer rather than by Spark jobs.
    */
  private def write(spark: SparkSession, dir: String, name: String, fields: String, rows: Long)(
      fill: (Group, Long) => Unit): Unit = {
    val schema = MessageTypeParser.parseMessageType(s"message $name { $fields }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/$name.parquet/part-00000.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try (0L until rows).foreach { id =>
      val g = groups.newGroup()
      fill(g, id)
      w.write(g)
    } finally w.close()
  }

  /** Write the five corpus source tables under `dir`, with the columns
    * the corpus is derived from.
    */
  def tables(spark: SparkSession, r: Rows, dir: String): Unit = {
    val n = r.n
    write(spark, dir, "nation",
      "required int32 n_nationkey; required binary n_name (STRING);", 25) { (g, id) =>
      g.append("n_nationkey", id.toInt).append("n_name", r.nationName(id))
    }
    write(spark, dir, "customer", "required int64 c_custkey; required binary c_name (STRING); " +
      "required int32 c_nationkey;", n.customers.toLong) { (g, id) =>
      g.append("c_custkey", id).append("c_name", r.customerName(id))
        .append("c_nationkey", r.customerNation(id))
    }
    write(spark, dir, "part", "required int64 p_partkey; required binary p_name (STRING); " +
      "required binary p_brand (STRING); required binary p_type (STRING);", n.parts.toLong) {
      (g, id) =>
        g.append("p_partkey", id).append("p_name", r.partName(id))
          .append("p_brand", r.partBrand(id)).append("p_type", r.partType(id))
    }
    write(spark, dir, "orders", "required int64 o_orderkey; required int64 o_custkey; " +
      "required binary o_orderstatus (STRING); required int64 o_orderdate (TIMESTAMP(MICROS,true)); " +
      "required binary o_orderpriority (STRING);", n.orders.toLong) { (g, id) =>
      g.append("o_orderkey", id).append("o_custkey", r.orderCustomer(id))
        .append("o_orderstatus", r.orderStatus(id))
        .append("o_orderdate", r.orderDay(id) * 86400L * 1000000L)
        .append("o_orderpriority", r.orderPriority(id))
    }
    write(spark, dir, "lineitem", "required int64 l_orderkey; required int64 l_partkey;",
      n.lineitems.toLong) { (g, id) =>
      g.append("l_orderkey", r.lineOrder(id)).append("l_partkey", r.linePart(id))
    }
  }

  private def esc(v: String): String =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Write the document corpus of the tables as `files` XML files
    * `corpus-<i>.xml` in `xmlDir`, document `k` in file `k * files /
    * orders`, so that the files are equally large. Each document holds
    * what `Corpus.flatDocs` and `Corpus.indexTriples` derive from the
    * tables, in the layout `XmlDocs.writeCorpusXml` writes: one order,
    * its customer as author, its nation as place, and its distinct
    * (part name, brand, type) index terms in sorted order. Written
    * directly rather than through Spark, because a Spark write of the
    * corpus costs a fresh JVM several seconds of warm-up; the run's
    * reference check compares the program's output over these files
    * with the relational path over the tables.
    */
  def corpus(r: Rows, xmlDir: String, files: Int): Unit = {
    val n = r.n
    val terms = Array.fill(n.orders)(Set.empty[(String, String, String)])
    (0L until n.lineitems.toLong).foreach { id =>
      val o = r.lineOrder(id).toInt
      val p = r.linePart(id)
      terms(o) += ((r.partName(p), r.partBrand(p), r.partType(p)))
    }
    val ord = Ordering.Tuple3[String, String, String]
    new File(xmlDir).mkdirs()
    (0 until files).foreach { f =>
      val sb = new StringBuilder
      def el(depth: Int, tag: String, v: String): Unit =
        sb ++= " " * (4 * depth) ++= s"<$tag>${esc(v)}</$tag>\n"
      def open(depth: Int, tag: String): Unit = sb ++= " " * (4 * depth) ++= s"<$tag>\n"
      def close(depth: Int, tag: String): Unit = sb ++= " " * (4 * depth) ++= s"</$tag>\n"
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
      open(0, "root")
      (0 until n.orders).filter(k => k.toLong * files / n.orders == f).foreach { k =>
        val c = r.orderCustomer(k)
        val day = java.time.LocalDate.ofEpochDay(r.orderDay(k))
        open(1, "document")
        el(2, "documentID", s"doc-$k")
        el(2, "documentTitle", s"Order $k")
        open(2, "projectInfo")
        el(3, "publicationName", "Rotunda Archive")
        el(3, "seriesName", r.orderPriority(k))
        el(3, "volumeInfo", r.orderStatus(k))
        el(3, "publisher", "UVA Press")
        open(3, "formats"); el(4, "type", "print"); el(4, "type", "digital"); close(3, "formats")
        close(2, "projectInfo")
        open(2, "authors"); el(3, "author", r.customerName(c)); close(2, "authors")
        open(2, "recipients"); el(3, "recipient", s"Recipient ${k % 100}"); close(2, "recipients")
        open(2, "dates")
        el(3, "date-from", day.toString)
        el(3, "date-to", day.plusDays(2).toString)
        close(2, "dates")
        open(2, "location")
        el(3, "placeName", r.nationName(r.customerNation(c).toLong))
        close(2, "location")
        open(2, "repositories"); el(3, "repository", "Library"); close(2, "repositories")
        if (terms(k).isEmpty) sb ++= " " * 8 ++= "<indexing/>\n"
        else {
          open(2, "indexing")
          terms(k).toSeq.sorted(ord).foreach { case (main, midsub, sub) =>
            open(3, "indexTerm")
            el(4, "main", main); el(4, "midsub", midsub); el(4, "sub", sub)
            close(3, "indexTerm")
          }
          close(2, "indexing")
        }
        close(1, "document")
      }
      close(0, "root")
      Files.writeString(Path.of(xmlDir, s"corpus-$f.xml"), sb.toString)
    }
  }

  /** MD5 over the names and bytes of the regular files under `dir`. */
  def digest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).foreach(walk)
      else {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f.toPath))
      }
    walk(new File(dir))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Total bytes of the regular files under `dir`, and their count. */
  def sizeOf(dir: String): (Long, Long) = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val fs = files(new File(dir)).filter(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_"))
    (fs.map(_.length).sum, fs.size.toLong)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }
}
