package graft.sources.excel

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The reference's complete option surface (`/root/reference/src/
  * pyspark_datasource/excel/connector.py:71-76,144,183,307-311`):
  * `path` (required), `sheetName` (read default: sheet index "0"; write
  * default "Sheet1"), `header` (default true), `inferSchema` (default true),
  * `enableArrow` (accepted for compatibility and ignored: the JVM reader
  * always yields rows, so it is a no-op here).
  *
  * Extensions (documented deviations): `inferSampleRows` bounds the schema-
  * inference scan (the reference probes pandas with `nrows=0`), and options
  * are case-insensitive per the DSv2 norm (the reference's dict is
  * case-sensitive).
  *
  * Kept as a plain lowercase-keyed Map so it serializes to executors.
  * Every option is parsed once, when this is built (on the driver, at
  * `load()` / `save()`), so a bad value fails there naming the option and
  * the value.
  */
final case class ExcelOptions(options: Map[String, String]) {

  private def get(key: String): Option[String] = options.get(key.toLowerCase)

  /** A whole number in 1..`max`, if set. */
  private def positive(key: String, max: Long = Int.MaxValue): Option[Long] =
    get(key).map { s =>
      s.trim.toLongOption.filter(n => n > 0 && n <= max).getOrElse(
        throw new IllegalArgumentException(
          s"Option '$key' must be positive (a whole number up to $max), got '$s'"))
    }

  /** `true` or `false` in any case, if set. */
  private def bool(key: String, default: Boolean): Boolean = get(key) match {
    case None => default
    case Some(s) if s.equalsIgnoreCase("true") => true
    case Some(s) if s.equalsIgnoreCase("false") => false
    case Some(s) => throw new IllegalArgumentException(
      s"Option '$key' must be true or false, got '$s'")
  }

  def path: String = get("path").getOrElse(
    throw new IllegalArgumentException(
      "Option 'path' is required for the excel data source"))

  def pathOpt: Option[String] = get("path")

  /** Sheet name or 0-based index; reference read default is index 0. */
  def sheetName: String = get("sheetname").getOrElse("0")

  /** sheetName="*" (extension): read EVERY sheet of each workbook,
    * unioned under the merged schema, with a synthesized `_sheet` string
    * column appended (a real file column named `_sheet` is shadowed). */
  def allSheets: Boolean = get("sheetname").contains("*")

  /** Write-side sheet name; reference default "Sheet1". */
  def writeSheetName: String = get("sheetname").getOrElse("Sheet1")

  val header: Boolean = bool("header", default = true)

  val inferSchema: Boolean = bool("inferSchema", default = true)

  /** Rows sampled per file for schema inference (extension). */
  val inferSampleRows: Int = positive("inferSampleRows").fold(100)(_.toInt)

  /** Max files to probe when inferring over a directory (extension). The
    * sample files are probed min(files, cores, 16) at a time, and each probe
    * keeps O(columns) state, not its sample rows. */
  val inferSampleFiles: Int = positive("inferSampleFiles").fold(1)(_.toInt)

  /** Streaming admission control: max new files admitted per micro-batch
    * (extension; unset = all available; must be positive, matching
    * FileStreamSource's validation). */
  val maxFilesPerTrigger: Option[Int] = positive("maxFilesPerTrigger").map(_.toInt)

  /** Streaming admission control by VOLUME: max cumulative on-disk bytes
    * of new files admitted per micro-batch (extension, the knob
    * FileStreamSource spells `maxBytesPerTrigger`) — the right bound when
    * file sizes vary wildly (one 500 MB workbook should not ride in a
    * batch sized for fifty 1 MB ones). At least one file is always
    * admitted so an oversized file can't wedge the stream. Composes with
    * `maxFilesPerTrigger`: both bounds apply. */
  val maxBytesPerTrigger: Option[Long] = positive("maxBytesPerTrigger", Long.MaxValue)

  /** STRICT reference parity for listings: admit `.xlsx` only, erroring
    * out the `.xlsm` superset this connector otherwise accepts (the
    * reference's case-insensitive `.xlsx` suffix filter,
    * connector.py:148-156 / SURVEY B6). Default false = superset. */
  val xlsxOnly: Boolean = bool("xlsxOnly", default = false)

  /** Write-side extension: `path` is a DIRECTORY and every task writes its
    * own `part-NNNNN.xlsx` shard in parallel (atomic per-file renames at
    * commit) instead of the driver merging one workbook — the scale-out
    * write mode. The reader's directory contract consumes the output
    * as-is. Default false = the reference's single-file contract. */
  val shardedOutput: Boolean = bool("shardedOutput", default = false)

  /** Descend into subdirectories when listing (extension; named after
    * Spark's file-source option; default false = the reference's one-level
    * contract). Hidden (dot/underscore) directories are never entered. */
  val recursiveFileLookup: Boolean = bool("recursiveFileLookup", default = false)

  /** Row-range split size for parallel single-file reads (extension;
    * unset = the reference's 1-file-1-partition contract). When set, a
    * file's sheet is split into partitions of at most this many data rows
    * (at most 64 per sheet: past that, rows per split grow, since split P
    * re-parses rows 1..start) — planning probes each file's last row number (its `<dimension>`
    * header when present, a tag scan otherwise), so use it for directories
    * of few large workbooks, not thousands of small ones. */
  val maxRowsPerPartition: Option[Int] = positive("maxRowsPerPartition").map(_.toInt)

  /** Write-side extension: route each row to a sheet named by this STRING
    * column's value — the workbook analogue of `partitionBy`. The routing
    * column is dropped from the written rows (like partitionBy's directory
    * encoding); a `sheetName="*"` read restores it as `_sheet`, so
    * route-by-column writes round-trip. Merged single-workbook mode only
    * (a sharded shard is one streamed sheet). */
  def sheetColumn: Option[String] = get("sheetcolumn")

  /** Write-side style extension: render the header row bold (default
    * false = the reference's plain output). */
  val headerBold: Boolean = bool("headerBold", default = false)

  /** Write-side style extension: per-column widths in characters, e.g.
    * `"id=8,name=32"` (field name = width). Unlisted columns keep Excel's
    * default width; unknown names are rejected at write planning. */
  val columnWidths: Map[String, Double] =
    get("columnwidths").map { s =>
      s.split(",").filter(_.nonEmpty).map { kv =>
        val eq = kv.lastIndexOf('=')
        require(eq > 0 && eq < kv.length - 1,
          s"columnWidths entry '$kv' is not name=width")
        val w = kv.substring(eq + 1).trim.toDouble
        require(w > 0, s"columnWidths width must be positive in '$kv'")
        kv.substring(0, eq).trim -> w
      }.toMap
    }.getOrElse(Map.empty)

  /** [[columnWidths]] resolved against a write schema's field order →
    * (0-based column index, width) for [[XlsxWriter]]. Names already
    * validated by the write builder. */
  def widthsFor(fieldNames: Seq[String]): Seq[(Int, Double)] =
    columnWidths.toSeq.flatMap { case (n, w) =>
      val i = fieldNames.indexOf(n)
      if (i < 0) None else Some(i -> w)
    }.sortBy(_._1)

  /** Streaming offset compaction (extension): files whose modification
    * time is older than (max mtime seen − maxFileAgeMs) are dropped from
    * the offset's seen-set AND ignored if newly listed — bounding offset
    * size by the retention window instead of the directory's lifetime file
    * count. The standard windowed-ingestion trade (Spark's own
    * FileStreamSource `maxFileAge` makes the same one): a file landing
    * with an mtime older than the window is never read. Unset = exact
    * offsets, no expiry. */
  val maxFileAgeMs: Option[Long] = positive("maxFileAgeMs", Long.MaxValue)

  /** When true, a schema column absent from a file reads as nulls instead
    * of erroring (extension — needed for merged multi-file schemas; default
    * false keeps the reference's strict contract, tests/
    * test_excel_connector.py:93-112). */
  val allowMissingColumns: Boolean = bool("allowMissingColumns", default = false)
}

object ExcelOptions {
  def apply(map: CaseInsensitiveStringMap): ExcelOptions =
    new ExcelOptions(map.asCaseSensitiveMap().asScala.toMap.map {
      case (k, v) => k.toLowerCase -> v
    })

  def fromMap(map: Map[String, String]): ExcelOptions =
    new ExcelOptions(map.map { case (k, v) => k.toLowerCase -> v })
}
