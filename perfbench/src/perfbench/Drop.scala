package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

import graft.sources.Generator

/** A seeded drop of reference-shaped sales files plus its ground truth.
  *
  * Rows come from `sources.Generator.salesData` (1,200 per file, the
  * reference generator's default). Each file covers a seeded 7-day window,
  * the way a weekly export does. File formats rotate through CSV, NDJSON,
  * JSON array, Parquet and CSV without an extension. In every
  * run of ten files exactly one is malformed: a missing required column, an
  * unparseable `sale_date` in the first 50 rows (CSV only, since only the
  * CSV validator probes dates), or a truncated Parquet file. About half the
  * files also carry duplicate `sale_id`s (an older copy with another amount,
  * which keep-latest dedup must drop) and rows with a null `sale_id`.
  */
object Drop {
  val Formats = Seq("csv", "ndjson", "json_array", "parquet", "csv_noext")
  val RowsPerFile = 1200
  val Columns = Seq("sale_id", "sale_date", "customer_id", "product_id",
    "quantity", "amount")

  /** Ground truth for one file. `rowsIfLoaded`/`amountIfLoaded` describe
    * what the cleaned file holds if a path loads it: distinct non-null ids
    * and their amount sum (0 when the amount column is missing). */
  final case class FileSpec(name: String, format: String, kind: String,
                            missing: Option[String], rowsInFile: Int,
                            nullIds: Int, dups: Int, rowsIfLoaded: Long,
                            amountIfLoaded: BigDecimal, bytes: Long) {
    def toJson: ListMap[String, Any] = ListMap(
      "name" -> name, "format" -> format, "kind" -> kind,
      "missing" -> missing, "rows_in_file" -> rowsInFile,
      "null_ids" -> nullIds, "dups" -> dups,
      "rows_if_loaded" -> rowsIfLoaded, "amount_if_loaded" -> amountIfLoaded,
      "bytes" -> bytes)
  }

  private final case class Rec(id: String, date: String, cust: String,
                               prod: String, qty: Int, amount: Double)

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Year0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Write `nFiles` files named `<prefix>_NNNNN[.ext]` into `dir`. */
  def generate(spark: SparkSession, seed: Long, nFiles: Int, dir: Path,
               prefix: String): Seq[FileSpec] = {
    Files.createDirectories(dir)
    val rng = new Random(seed)
    val base = Generator.salesData(spark, RowsPerFile.toLong * nFiles, seed)
      .collect()
      .map(r => Rec(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getDouble(5)))
      .sortBy(_.id)
    val formatOffset = rng.nextInt(Formats.size)
    val badSlot = (0 until (nFiles + 9) / 10).map(_ => rng.nextInt(10))
    val specs = (0 until nFiles).map { f =>
      val format = Formats((f + formatOffset) % Formats.size)
      val malformed = badSlot(f / 10) == f % 10
      val kind =
        if (!malformed) "valid"
        else format match {
          case "parquet" => if (rng.nextBoolean()) "truncated_parquet" else "missing_column"
          case "csv" | "csv_noext" => if (rng.nextBoolean()) "bad_date" else "missing_column"
          case _ => "missing_column"
        }
      val missing =
        if (kind == "missing_column") Some(if (rng.nextBoolean()) "amount" else "customer_id")
        else None
      // The file's rows, remapped into its date window.
      val days = 7
      val start = Year0.plusDays(rng.nextInt(366 - days).toLong)
      val span = days * 86400L
      val rows = base.slice(f * RowsPerFile, (f + 1) * RowsPerFile).map { r =>
        val secs = java.time.Duration.between(Year0, LocalDateTime.parse(r.date, Fmt)).getSeconds
        r.copy(date = start.plusSeconds(Math.floorMod(secs, span)).format(Fmt))
      }
      val withBadDate =
        if (kind == "bad_date") {
          val i = rng.nextInt(50)
          rows.updated(i, rows(i).copy(date = "2024-02-30 25:61:00"))
        } else rows
      // Older duplicates of rows past the 50-row validation probe, and
      // null-key rows; both go after the probe window.
      val nDups = if (rng.nextBoolean()) 1 + rng.nextInt(24) else 0
      val nNulls = if (rng.nextBoolean()) 1 + rng.nextInt(24) else 0
      val dups = (0 until nDups).map { _ =>
        val r = rows(50 + rng.nextInt(RowsPerFile - 50))
        r.copy(date = LocalDateTime.parse(r.date, Fmt).minusHours(1).format(Fmt),
          amount = 1.0, qty = 1)
      }
      val nulls = (0 until nNulls).map { _ =>
        rows(rng.nextInt(RowsPerFile)).copy(id = null)
      }
      val all = withBadDate.take(50) ++
        rng.shuffle((withBadDate.drop(50) ++ dups ++ nulls).toSeq)
      val name = f"${prefix}_$f%05d" + (format match {
        case "csv" => ".csv"
        case "ndjson" => ".ndjson"
        case "json_array" => ".json"
        case "parquet" => ".parquet"
        case _ => ""
      })
      val cols = Columns.filterNot(missing.contains)
      format match {
        case "csv" | "csv_noext" => Files.writeString(dir.resolve(name), csv(all, cols), UTF_8)
        case "ndjson" =>
          Files.writeString(dir.resolve(name), all.map(json(_, cols)).mkString("", "\n", "\n"), UTF_8)
        case "json_array" =>
          Files.writeString(dir.resolve(name), all.map(json(_, cols)).mkString("[\n", ",\n", "\n]\n"), UTF_8)
        case "parquet" => writeParquet(dir.resolve(name), all, cols, kind == "truncated_parquet")
      }
      val amount =
        if (missing.contains("amount")) BigDecimal(0)
        else rows.map(r => BigDecimal(r.amount.toString)).sum
      FileSpec(name, format, kind, missing, all.size, nNulls, nDups,
        if (kind == "truncated_parquet") 0L else RowsPerFile.toLong, amount, 0L)
    }
    specs.map(s => s.copy(bytes = Files.size(dir.resolve(s.name))))
  }

  private def csv(rows: Seq[Rec], cols: Seq[String]): String = {
    val sb = new StringBuilder(cols.mkString(",")).append('\n')
    rows.foreach { r =>
      sb.append(cols.map(c => field(r, c) match {
        case null => "nan"
        case v => v.toString
      }).mkString(",")).append('\n')
    }
    sb.toString
  }

  private def json(r: Rec, cols: Seq[String]): String =
    cols.map { c =>
      val v = field(r, c) match {
        case null => "null"
        case s: String => Json.str(s)
        case other => other.toString
      }
      Json.str(c) + ":" + v
    }.mkString("{", ",", "}")

  private def field(r: Rec, c: String): Any = c match {
    case "sale_id" => r.id
    case "sale_date" => r.date
    case "customer_id" => r.cust
    case "product_id" => r.prod
    case "quantity" => r.qty
    case "amount" => r.amount
  }

  /** Parquet drop files are written in this JVM with parquet-mr, the way
    * an exporting tool would, typed as the reference's pandas frames are. */
  private def writeParquet(path: Path, rows: Seq[Rec], cols: Seq[String],
                           truncate: Boolean): Unit = {
    val fields = cols.map {
      case "quantity" => "optional int32 quantity;"
      case "amount" => "optional double amount;"
      case c => s"optional binary $c (STRING);"
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message sales {", " ", "}"))
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(schema).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      cols.foreach(c => field(r, c) match {
        case null => ()
        case v: String => g.add(c, v)
        case v: Int => g.add(c, v)
        case v: Double => g.add(c, v)
      })
      writer.write(g)
    } finally writer.close()
    if (truncate) {
      val bytes = Files.readAllBytes(path)
      Files.write(path, java.util.Arrays.copyOf(bytes, bytes.length * 3 / 5))
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p).iterator().asScala.toSeq.reverse
      paths.foreach(Files.delete)
    }
}
