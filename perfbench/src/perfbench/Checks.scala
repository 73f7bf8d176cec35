package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** A response body kept for checking after the timed window. `arg` is the
  * statement text for result routes and the table path for catalog routes. */
final case class Delivered(kind: String, arg: String, offset: Int, pageSize: Int,
    body: Array[Byte])

/** Delivered bodies moved to a file after the window, so that the heap
  * reading sees the server's state and not the client's copies; the
  * checks read them back one at a time. */
object Spill {
  def write(path: Path, ds: Seq[Delivered]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(path)))
    def bytes(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
    try {
      out.writeInt(ds.length)
      ds.foreach { d =>
        bytes(d.kind.getBytes(UTF_8)); bytes(d.arg.getBytes(UTF_8))
        out.writeInt(d.offset); out.writeInt(d.pageSize); bytes(d.body)
      }
    } finally out.close()
  }

  def read[A](path: Path)(f: Iterator[Delivered] => A): A = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path)))
    def bytes(): Array[Byte] = { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
    try f(Iterator.fill(in.readInt()) {
      val (kind, arg) = (new String(bytes(), UTF_8), new String(bytes(), UTF_8))
      val (offset, pageSize) = (in.readInt(), in.readInt())
      Delivered(kind, arg, offset, pageSize, bytes())
    })
    finally in.close()
  }
}

/** Canonical value text shared by every delivery format, so one content
  * hash compares NDJSON pages, CSV and Arrow against `spark.sql` rows. */
object Canon {
  val Null = "␀"

  def num(d: java.math.BigDecimal): String =
    if (d.signum == 0) "n:0" else "n:" + d.stripTrailingZeros.toPlainString

  def of(v: Any): String = v match {
    case null => Null
    case b: Boolean => "b:" + b
    case s: String => "s:" + s
    case d: java.math.BigDecimal => num(d)
    case d: BigDecimal => num(d.bigDecimal)
    case d: Double => num(new java.math.BigDecimal(java.lang.Double.toString(d)))
    case f: Float => num(new java.math.BigDecimal(java.lang.Float.toString(f)))
    case n: Int => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Long => num(java.math.BigDecimal.valueOf(n))
    case n: Short => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Byte => num(java.math.BigDecimal.valueOf(n.toLong))
    case other => "s:" + other.toString
  }

  /** A value of a JSON response body. */
  def node(n: JsonNode): String =
    if (n.isNull) Null
    else if (n.isBoolean) "b:" + n.booleanValue
    else if (n.isNumber) num(n.decimalValue)
    else if (n.isTextual) "s:" + n.textValue
    else "s:" + n.toString

  def hash(rows: Iterator[Seq[String]]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    rows.foreach { r =>
      md.update(r.mkString("\u0001").getBytes(UTF_8))
      md.update(2.toByte)
      n += 1
    }
    (n, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}

/** Decoders for the three result wire formats, each to canonical rows. */
object Decode {

  /** One NDJSON results page: (total_rows from metadata, rows), or a
    * failure message when the message protocol is broken. */
  def ndjsonPage(body: Array[Byte]): Either[String, (Long, Vector[Seq[String]])] = {
    val lines = new String(body, UTF_8).split("\n").filter(_.nonEmpty).map(Json.parse)
    def kind(l: JsonNode) = l.path("type").asText
    if (lines.isEmpty) return Left("empty page")
    if (kind(lines.head) != "metadata") return Left("first line is not metadata")
    if (kind(lines.last) != "complete") return Left("last line is not complete")
    val rows = lines.iterator.filter(kind(_) == "data")
      .flatMap(_.get("rows").elements.asScala).map(_.elements.asScala.map(Canon.node).toSeq).toVector
    val total = lines.head.get("total_rows").asLong
    val returned = lines.last.get("rows_returned").asLong
    if (returned != rows.length) Left(s"rows_returned $returned != ${rows.length} rows")
    else Right((total, rows))
  }

  /** RFC 4180 records (CRLF rows, quoted fields with doubled quotes). */
  def csvRecords(body: Array[Byte]): Vector[Vector[String]] = {
    val s = new String(body, UTF_8)
    val out = Vector.newBuilder[Vector[String]]
    var row = Vector.newBuilder[String]
    val field = new StringBuilder
    var i = 0
    var quoted = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') { field.append('"'); i += 1 }
        else if (c == '"') quoted = false
        else field.append(c)
      } else c match {
        case '"' => quoted = true
        case ',' => row += field.toString; field.clear()
        case '\r' => ()
        case '\n' =>
          row += field.toString; field.clear()
          out += row.result(); row = Vector.newBuilder[String]
        case _ => field.append(c)
      }
      i += 1
    }
    if (field.nonEmpty) { row += field.toString; out += row.result() }
    out.result()
  }

  /** CSV cells back to canonical values, typed by the expected schema. */
  def csvRow(cells: Vector[String], schema: StructType): Seq[String] =
    cells.zip(schema.fields).map { case (cell, f) =>
      f.dataType match {
        case _: NumericType => if (cell.isEmpty) Canon.Null else Canon.num(new java.math.BigDecimal(cell))
        case BooleanType => if (cell.isEmpty) Canon.Null else "b:" + cell
        case _ => "s:" + cell
      }
    }

  /** Arrow IPC stream, decoded with the stock Arrow Java reader. */
  def arrow(body: Array[Byte]): Vector[Seq[String]] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.DateDayVector
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import scala.jdk.CollectionConverters._
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(body), alloc)
    try {
      val rows = Vector.newBuilder[Seq[String]]
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        val vectors = root.getFieldVectors.asScala.toVector
        for (i <- 0 until root.getRowCount)
          rows += vectors.map {
            case v if v.isNull(i) => Canon.Null
            case d: DateDayVector => "s:" + java.time.LocalDate.ofEpochDay(d.get(i).toLong)
            case v => v.getObject(i) match {
              case t: org.apache.arrow.vector.util.Text => "s:" + t.toString
              case o => Canon.of(o)
            }
          }
      }
      rows.result()
    } finally { reader.close(); alloc.close() }
  }
}

/** Output checks: every kept response is compared, after the timed window,
  * with the same statement run directly through `spark.sql`. `tamper`
  * corrupts every expected hash; the benchmark's own test uses it to show
  * that a wrong result reaches `failed`. */
final class Checker(spark: SparkSession, maxRows: Int, tamper: Boolean) {

  private final case class Expected(schema: StructType, rows: Vector[Row])
  private type Row = Seq[String]
  private val expected = new java.util.concurrent.ConcurrentHashMap[String, Expected]()
  val problems = mutable.ArrayBuffer.empty[String]

  private def expectedFor(sql: String): Expected =
    expected.computeIfAbsent(sql, _ => {
      val df = spark.sql(sql)
      Expected(df.schema, df.take(maxRows).toVector.map(_.toSeq.map(Canon.of)))
    })

  /** Run the distinct statements on a few threads before checking; the
    * session runs concurrent statements as it does for the clients. */
  def prefetch(statements: Seq[String], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try statements.distinct
      .map(sql => pool.submit(() => try expectedFor(sql) catch { case NonFatal(_) => () }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  private def same(got: Iterator[Row], want: Iterator[Row]): Boolean = {
    val (gn, gh) = Canon.hash(got)
    val (wn, wh) = Canon.hash(want)
    gn == wn && gh == (if (tamper) wh + "-tampered" else wh)
  }

  private def csvExpected(e: Expected): Iterator[Row] =
    e.rows.iterator.map(_.zip(e.schema.fields).map {
      case (Canon.Null, f) if !f.dataType.isInstanceOf[NumericType] && f.dataType != BooleanType => "s:"
      case (v, _) => v
    })

  /** True when the delivered body matches its expectation. */
  def check(d: Delivered): Boolean = {
    val ok = try d.kind match {
      case "page" =>
        val e = expectedFor(d.arg)
        Decode.ndjsonPage(d.body) match {
          case Left(msg) => problems += msg; false
          case Right((total, rows)) =>
            total == e.rows.length &&
              same(rows.iterator, e.rows.iterator.slice(d.offset, d.offset + d.pageSize))
        }
      case "csv" =>
        val e = expectedFor(d.arg)
        val recs = Decode.csvRecords(d.body)
        recs.headOption.contains(e.schema.fieldNames.toVector) &&
          recs.length == e.rows.length + 1 &&
          same(recs.iterator.drop(1).map(Decode.csvRow(_, e.schema)), csvExpected(e))
      case "arrow" =>
        val e = expectedFor(d.arg)
        same(Decode.arrow(d.body).iterator, e.rows.iterator)
      case "namespaces" =>
        texts(parse(d).get("namespaces")).sorted ==
          spark.catalog.listDatabases().collect().map(_.name).toSeq.sorted
      case "tables" =>
        texts(parse(d).get("tables")).sorted ==
          spark.catalog.listTables(d.arg).collect().map(_.name).toSeq.sorted
      case "schema" =>
        val got = parse(d).get("fields").elements.asScala.map(_.get("name").asText)
        same(got.map(Seq(_)), spark.table(d.arg).schema.fieldNames.iterator.map(Seq(_)))
      case "details" =>
        val o = parse(d)
        o.get("name").asText == d.arg.split('.').last &&
          o.get("snapshots").size == snapshotDirs(d.arg)
    } catch { case NonFatal(e) => problems += s"${d.kind}: $e"; false }
    if (!ok && problems.length < 20) problems += s"mismatch: ${d.kind} ${d.arg.take(80)} @${d.offset}"
    ok
  }

  /** Snapshots a table should report: one data directory per snapshot
    * under an Iceberg-style location, none for a plain parquet table. */
  private def snapshotDirs(table: String): Int = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).getOrElse("")
    val data = new java.io.File(new java.net.URI(loc).getPath, "data")
    if (new java.io.File(data.getParentFile, "metadata").isDirectory)
      Option(data.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
    else 0
  }

  private def parse(d: Delivered): JsonNode = Json.parse(new String(d.body, UTF_8))
  private def texts(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}
