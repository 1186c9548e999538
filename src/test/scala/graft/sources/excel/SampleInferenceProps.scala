package graft.sources.excel

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** The inference that held the whole sample in memory: every sampled row
  * boxed, one `Seq` of values per column. Kept as the spec the streaming
  * fold of [[ExcelSchema.inferSample]] must agree with. */
object MaterializingInference {

  def inferSheet(headerRow: Option[Array[Any]], sample: Seq[Array[Any]],
      opts: ExcelOptions): StructType = {
    val width = math.max(headerRow.map(_.length).getOrElse(0),
      if (sample.isEmpty) 0 else sample.map(_.length).max)
    val names = ExcelSchema.columnNames(headerRow, width, opts.header)
    if (opts.inferSchema) inferFromRows(names, sample) else ExcelSchema.allStrings(names)
  }

  def inferFromRows(names: Seq[String], rows: Seq[Array[Any]]): StructType = {
    val fields = names.zipWithIndex.map { case (name, i) =>
      val values = rows.iterator
        .map(r => if (i < r.length) r(i) else null)
        .filter(_ != null)
        .toSeq
      StructField(name, inferColumnType(values), nullable = true)
    }
    StructType(fields)
  }

  private def inferColumnType(values: Seq[Any]): DataType = {
    if (values.isEmpty) return StringType
    var allBool = true
    var allNum = true
    var allIntegral = true
    var fitsInt = true
    var allDateLike = true
    var anyTime = false
    values.foreach {
      case _: java.lang.Boolean =>
        allNum = false; allDateLike = false
      case d: java.lang.Double =>
        allBool = false; allDateLike = false
        val v = d.doubleValue()
        if (v != math.floor(v) || v.isInfinite || v.isNaN) { allIntegral = false; fitsInt = false }
        else if (v < Int.MinValue || v > Int.MaxValue) fitsInt = false
      case _: LocalDate =>
        allBool = false; allNum = false
      case _: LocalDateTime =>
        allBool = false; allNum = false; anyTime = true
      case _ =>
        allBool = false; allNum = false; allDateLike = false
    }
    if (allBool) BooleanType
    else if (allNum && allIntegral && fitsInt) IntegerType
    else if (allNum && allIntegral) LongType
    else if (allNum) DoubleType
    else if (allDateLike && anyTime) TimestampType
    else if (allDateLike) DateType
    else StringType
  }
}

/** The fold infers the same schema as [[MaterializingInference]] over
  * ragged sample rows of every decoded cell type, with nulls, under every
  * `header` and `inferSchema` setting. */
object SampleInferenceProps extends Properties("infer.fold") {

  private val kinds: Seq[Gen[Any]] = Seq(
    Gen.oneOf(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE),
    Gen.chooseNum(-5000, 5000).map(i => java.lang.Double.valueOf(i.toDouble)),
    Gen.oneOf(3e9, -3e9, 1e300, 0.5, -2.25, Double.NaN, Double.PositiveInfinity)
      .map(d => java.lang.Double.valueOf(d)),
    Gen.alphaStr,
    Gen.chooseNum(0L, 73000L).map(d => LocalDate.of(1900, 1, 1).plusDays(d)),
    Gen.chooseNum(0L, 73000L).map(d => LocalDate.of(1900, 1, 1).plusDays(d).atTime(12, 30)))

  /** A column draws its cells from one or two kinds, or is null. */
  private val genColumn: Gen[Gen[Any]] = for {
    n <- Gen.chooseNum(1, 2)
    ks <- Gen.pick(n, kinds)
  } yield Gen.frequency(1 -> Gen.const(null), 4 -> Gen.oneOf(ks.toSeq).flatMap(identity))

  private val genSample: Gen[(Option[Array[Any]], Seq[Array[Any]])] = for {
    width <- Gen.chooseNum(0, 8)
    cols <- Gen.listOfN(width, genColumn)
    header <- Gen.option(Gen.chooseNum(0, width + 2).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.const(null), Gen.alphaStr, kinds(1))).map(_.toArray[Any])))
    nRows <- Gen.chooseNum(0, 30)
    rows <- Gen.listOfN(nRows, Gen.chooseNum(0, width).flatMap(len =>
      Gen.sequence[Seq[Any], Any](cols.take(len)).map(_.toArray)))
  } yield (header, rows)

  private val genOpts: Gen[ExcelOptions] = for {
    header <- Gen.oneOf(true, false)
    infer <- Gen.frequency(4 -> true, 1 -> false)
  } yield ExcelOptions.fromMap(Map("header" -> header.toString, "inferSchema" -> infer.toString))

  property("the fold infers what the materializing inference does") =
    Prop.forAll(genSample, genOpts) { case ((header, rows), opts) =>
      val folded = ExcelSchema.inferSample(header, rows.iterator, opts)
      val spec = MaterializingInference.inferSheet(header, rows, opts)
      (folded == spec) :| s"fold $folded, spec $spec"
    }
}
