package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Column kinds of the generated tables. Each kind knows its parquet
  * type, how to put a value into a parquet record, and the string the
  * program's `Stringify` produces for it — the last one is what the
  * independent reference folds compare against.
  */
sealed abstract class Kind(val parquet: String) {
  def put(g: Group, name: String, v: Any): Unit
  def str(v: Any): String
}
object Kind {
  case object I64 extends Kind("int64") {
    def put(g: Group, n: String, v: Any): Unit = g.append(n, v.asInstanceOf[Long])
    def str(v: Any): String = v.toString
  }
  case object I32 extends Kind("int32") {
    def put(g: Group, n: String, v: Any): Unit = g.append(n, v.asInstanceOf[Int])
    def str(v: Any): String = v.toString
  }
  /** A money/quantity value held as whole cents, stored as a double
    * (the `Stringify` DECIMAL(18,2) path).
    */
  case object Cents extends Kind("double") {
    def put(g: Group, n: String, v: Any): Unit = g.append(n, v.asInstanceOf[Long] / 100.0)
    def str(v: Any): String = java.math.BigDecimal.valueOf(v.asInstanceOf[Long], 2).toPlainString
  }
  /** A date held as epoch days. */
  case object Date extends Kind("int32") {
    def put(g: Group, n: String, v: Any): Unit = g.append(n, v.asInstanceOf[Int])
    def str(v: Any): String = java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
  }
  case object Str extends Kind("binary") {
    def put(g: Group, n: String, v: Any): Unit = g.append(n, v.asInstanceOf[String])
    def str(v: Any): String = v.asInstanceOf[String]
  }
}

final case class Schema(name: String, fields: Seq[(String, Kind)]) {
  val names: Seq[String] = fields.map(_._1)
  def text: String = fields.map { case (n, k) =>
    val ann = k match {
      case Kind.Date => " (DATE)"
      case Kind.Str => " (STRING)"
      case _ => ""
    }
    s"  required ${k.parquet} $n$ann;"
  }.mkString(s"message $name {\n", "\n", "\n}")
  /** The row as the program stringifies it, in schema order. */
  def strings(row: Array[Any]): Array[String] =
    fields.indices.map(i => fields(i)._2.str(row(i))).toArray
}

/** Writes generated rows as parquet WITHOUT Spark, so the program only
  * ever sees finished input files, and the same seed yields the same
  * values in the same order (no task ids, uuids or timestamps reach the
  * files). The container bytes can still differ in one place: parquet-mr
  * lists each column chunk's encodings in hash-set order, which varies
  * between JVM runs; `contentDigest` is the byte-exact identity check.
  */
object ParquetOut {
  def writeFile(file: Path, schema: Schema, rows: Iterator[Array[Any]]): Unit = {
    Files.createDirectories(file.getParent)
    val msg = MessageTypeParser.parseMessageType(schema.text)
    val factory = new SimpleGroupFactory(msg)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(msg).withConf(new org.apache.hadoop.conf.Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(1L << 20)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.indices.foreach(i => schema.fields(i)._2.put(g, schema.fields(i)._1, r(i)))
      w.write(g)
    } finally w.close()
  }

  def fileName(i: Int): String = f"part-$i%05d.parquet"

  /** (row count, SHA-256 of every decoded record in file order). */
  def contentDigest(file: Path): (Long, String) = {
    val r = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(file.toUri)).build()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    try {
      var g = r.read()
      while (g != null) {
        md.update(g.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        n += 1
        g = r.read()
      }
    } finally r.close()
    (n, md.digest().map("%02x".format(_)).mkString)
  }

  /** Rows split in order over `files` files of `rowsPerFile` rows. */
  def write(dir: Path, schema: Schema, files: Int, rows: Iterator[Array[Any]],
            rowsPerFile: Int): Unit = {
    (0 until files).foreach(f =>
      writeFile(dir.resolve(fileName(f)), schema, Iterator.fill(rowsPerFile)(rows).takeWhile(_.hasNext).map(_.next())))
    require(!rows.hasNext, s"${schema.name}: more rows than $files x $rowsPerFile")
  }
}

/** Order-independent content digest of a set of stringified rows: the
  * row count, the wrapping sum of per-row 64-bit FNV-1a hashes, and the
  * stringified byte total (the "user bytes" of stored_bytes_ratio).
  */
final class Digest {
  var rows = 0L
  var sum = 0L
  var bytes = 0L
  def add(cols: Array[String]): Unit = {
    var h = 0xcbf29ce484222325L
    cols.foreach { s =>
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      h = (h ^ 0x1f) * 0x100000001b3L
      bytes += s.length
    }
    rows += 1
    sum += h
  }
  def same(o: Digest): Boolean = rows == o.rows && sum == o.sum && bytes == o.bytes
  override def toString: String = f"rows=$rows sum=$sum%016x bytes=$bytes"
}

object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + stream)

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  def word(r: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    (0 until len).foreach(_ => sb.append(Letters.charAt(r.nextInt(26))))
    sb.toString
  }

  // ---- bulk_import: a lineitem-shaped source -------------------------

  val Lineitem: Schema = Schema("lineitem", Seq(
    "l_orderkey" -> Kind.I64, "l_partkey" -> Kind.I64, "l_suppkey" -> Kind.I64,
    "l_linenumber" -> Kind.I32, "l_quantity" -> Kind.Cents,
    "l_extendedprice" -> Kind.Cents, "l_discount" -> Kind.Cents, "l_tax" -> Kind.Cents,
    "l_returnflag" -> Kind.Str, "l_linestatus" -> Kind.Str,
    "l_shipdate" -> Kind.Date, "l_commitdate" -> Kind.Date, "l_receiptdate" -> Kind.Date,
    "l_shipinstruct" -> Kind.Str, "l_shipmode" -> Kind.Str, "l_comment" -> Kind.Str))

  val LineitemRows = 600000
  /** Files of the source; each holds its own orders, so files generate
    * (and fold) independently and in parallel.
    */
  val LineitemFiles = 8

  private val Instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val CommentWords = Array("carefully", "final", "deposits", "sleep", "quickly",
    "ironic", "packages", "among", "the", "furiously", "regular", "accounts", "haggle",
    "blithely", "pending", "requests", "express", "theodolites", "unusual", "foxes")

  /** One file of the sf0.1-shaped lineitem: orders of 1–7 lines (about
    * 4 rows per l_orderkey), each order's lines adjacent as in TPC-H.
    */
  def lineitem(seed: Long, file: Int): Iterator[Array[Any]] = {
    val r = rng(seed, 100 + file)
    var order = file * 10000000L
    var line = 0
    var lines = 0
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay.toInt
    Iterator.fill(LineitemRows / LineitemFiles) {
      if (line == lines) { order += 1; line = 0; lines = 1 + r.nextInt(7) }
      line += 1
      val ship = day0 + r.nextInt(2400)
      val comment = Iterator.fill(2 + r.nextInt(4))(CommentWords(r.nextInt(CommentWords.length)))
        .mkString(" ")
      Array[Any](order * 4 + (order % 3), 1L + r.nextInt(20000), 1L + r.nextInt(1000),
        line, 100L * (1 + r.nextInt(50)), 90000L + r.nextInt(10000000),
        r.nextInt(11).toLong, r.nextInt(9).toLong,
        "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        ship, ship + 30 - r.nextInt(60), ship + 1 + r.nextInt(30),
        Instruct(r.nextInt(Instruct.length)), Modes(r.nextInt(Modes.length)), comment)
    }
  }

  // ---- search_serve: Zipf-token corpus under live maintenance ---------

  val Documents: Schema = Schema("documents",
    Seq("doc_id" -> Kind.I64, "day" -> Kind.Str, "text" -> Kind.Str))

  val Vocab = 20000
  val CorpusDays = 10
  val DocsPerDay = 300
  val CorpusFiles = 4
  /** Tokens per document: 10 to 50, so BM25 length normalisation varies. */
  val MinDocTokens = 10
  val MaxDocTokens = 50
  val BatchDocs = 200
  /** Share of a batch that re-writes an existing doc (30%). */
  val UpdateDocs = 60
  /** Share of a batch dated behind the frontier (2%). */
  val LateDocs = 4
  /** The frontier day advances every this many batches. */
  val BatchesPerDay = 2
  /** Updates draw from the docs created most recently (about 2 days). */
  val RecentDocs = 600

  private val Day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay

  /** Vocabulary and Zipf(s=1) rank sampler over it; token strings are
    * seeded too, so another seed gives other words, not only another
    * mix.
    */
  final class Zipf(seed: Long) {
    val words: Array[String] = {
      val r = rng(seed, 3)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab) seen += word(r, 6)
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    /** A rank at or above `from`, Zipf-distributed. */
    def rank(r: SplittableRandom, from: Int = 0): Int = {
      val lo = if (from == 0) 0.0 else cdf(from - 1)
      val u = lo + r.nextDouble() * (1.0 - lo)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(Vocab - 1, math.max(from, if (i >= 0) i else -i - 1))
    }
    def text(r: SplittableRandom): String =
      Iterator.fill(MinDocTokens + r.nextInt(MaxDocTokens - MinDocTokens + 1))(words(rank(r)))
        .mkString(" ")
  }

  /** The document stream: an initial corpus spread over `CorpusDays`
    * days, then keyed batches whose new docs land on an advancing
    * frontier day, a few late ones behind it, and updates hit recent
    * docs. Batch `b` depends on every batch before it (which ids
    * exist), so everything comes from one sequential generator.
    */
  final class DocStream(seed: Long, z: Zipf) {
    private val r = rng(seed, 4)
    private var nextId = 0L
    private val ids = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    private var batches = 0

    private def doc(id: Long, day: Int): Array[Any] =
      Array[Any](id, java.time.LocalDate.ofEpochDay(Day0 + day).toString, z.text(r))

    private def fresh(day: Int): Array[Any] = {
      val id = nextId
      nextId += 1
      ids += id -> day
      doc(id, day)
    }

    def corpus(): Iterator[Array[Any]] =
      (0 until CorpusDays).iterator.flatMap(d => Iterator.fill(DocsPerDay)(fresh(d)))

    def nextBatch(): Array[Array[Any]] = {
      val f = CorpusDays + batches / BatchesPerDay
      val window = math.min(RecentDocs, ids.length)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < UpdateDocs) picked += ids.length - 1 - r.nextInt(window)
      val updates = picked.toArray.map { i => val (id, day) = ids(i); doc(id, day) }
      val late = Array.fill(LateDocs)(fresh(f - 1 - r.nextInt(3)))
      val news = Array.fill(BatchDocs - UpdateDocs - LateDocs)(fresh(f))
      batches += 1
      updates ++ late ++ news
    }
  }
}
