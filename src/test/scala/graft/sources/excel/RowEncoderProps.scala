package graft.sources.excel

import java.io.ByteArrayOutputStream
import java.util.zip.Inflater

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** The typed write path renders the same bytes as the char-level encoder
  * it replaced ([[CharSheetEncoder]]): random rows of every Spark write
  * type go through `writeSparkRow` with the task writer's typed cells,
  * and the spec gets the boxed values the old getters made. The rows'
  * inflated bytes must be equal, and a row over a cap must fail with the
  * same message on both sides and leave both writers usable. The boxed
  * path (`writeRow` / `writeHeaderRow`) is held to the same spec. */
object RowEncoderProps extends Properties("xlsx.rowEncoder") {

  /** Text that exercises every escape and every UTF-8 width. */
  private val genChunk: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumStr.map(_.take(8)),
    2 -> Gen.oneOf("&", "<", ">", "\"", "'", "\r", "\n", "\r\n", "\t", " "),
    2 -> Gen.choose(0, 31).map(c => c.toChar.toString),
    2 -> Gen.oneOf("_x0041_", "_x005F_", "_x00e9_", "_xZZZZ_", "_x41_", "_", "__x0041_",
      "_x0041", "x0041_"),
    2 -> Gen.oneOf("é", "ß", "λ", "Ж", "中文", "\u00a0", "\u3000", "\ufffd", "\uffff"),
    2 -> Gen.oneOf("😀", "\ud800\udc00", "\udbff\udfff")) // supplementary

  private val genText: Gen[UTF8String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, genChunk)).map(cs =>
      UTF8String.fromString(cs.mkString))

  /** Bytes that are not UTF-8: stray continuations, overlong forms,
    * encoded surrogates, code points past U+10FFFF, cut sequences. */
  private val genInvalid: Gen[UTF8String] = for {
    prefix <- Gen.alphaNumStr.map(_.take(4))
    bad <- Gen.oneOf(Seq(0x80), Seq(0xbf), Seq(0xc0, 0x80), Seq(0xc1, 0xbf),
      Seq(0xe0, 0x80, 0x80), Seq(0xed, 0xa0, 0x80), Seq(0xed, 0xbf, 0xbf),
      Seq(0xf0, 0x80, 0x80, 0x80), Seq(0xf4, 0x90, 0x80, 0x80), Seq(0xf5, 0x80),
      Seq(0xff), Seq(0xfe), Seq(0xc3), Seq(0xe4, 0xb8), Seq(0xf0, 0x9f, 0x98),
      Seq(0xc3, 0x28), Seq(0xe2, 0x28, 0xa1))
    suffix <- Gen.oneOf("", "<&>", "_x0041_", "\u0001", "é")
  } yield UTF8String.fromBytes(prefix.getBytes("UTF-8") ++ bad.map(_.toByte) ++
    suffix.getBytes("UTF-8"))

  /** Strings at and just past the 32,767-unit cap, in UTF-16 units. */
  private val genLong: Gen[UTF8String] = Gen.oneOf(Gen.oneOf(
    () => "a" * 32767, () => "a" * 32768,
    () => "a" * 32765 + "😀", // a surrogate pair ends at the cap
    () => "a" * 32766 + "😀", // and one past it
    () => "😀" * 16384, // 32,768 units in 65,536 bytes
    () => "é" * 20000, // more bytes than the cap, fewer units
    () => "<" * 32767,
    () => "a" * 32768 + "\u0001"
  ).map(f => UTF8String.fromString(f())),
    Gen.oneOf(32767, 32768).map(n => UTF8String.fromBytes(Array.fill[Byte](n)(0xff.toByte))))

  private val genString: Gen[Any] =
    Gen.frequency(12 -> genText, 3 -> genInvalid, 1 -> genLong)

  private val genInt: Gen[Any] =
    Gen.oneOf(Gen.const(Int.MinValue), Gen.const(Int.MaxValue), Gen.const(0),
      Gen.chooseNum(Int.MinValue, Int.MaxValue))

  private val genLongValue: Gen[Any] =
    Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue),
      Gen.chooseNum(Long.MinValue, Long.MaxValue))

  private val specialDoubles = Seq(0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NaN, 1e15, -1e15, Math.nextDown(1e15),
    Math.nextUp(1e15), 999999999999999.0, 999999999999999.5, -999999999999999.0,
    1e15 + 2, 0.1, 1.5, -2.5, 1e-300, Double.MinPositiveValue, Double.MaxValue,
    9.007199254740993e15, 123456789.0)

  private val genDouble: Gen[Any] = Gen.frequency(
    2 -> Gen.oneOf(specialDoubles), 2 -> Gen.chooseNum(-1e16, 1e16),
    1 -> Gen.chooseNum(-1e6, 1e6).map(_.toLong.toDouble),
    1 -> Gen.long.map(java.lang.Double.longBitsToDouble(_)))

  private val genFloat: Gen[Any] = Gen.frequency(
    2 -> Gen.oneOf(specialDoubles.map(_.toFloat)),
    2 -> Gen.chooseNum(-1e9f, 1e9f),
    1 -> Gen.chooseNum(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat(_)))

  private val genBool: Gen[Any] = Gen.oneOf(true, false)

  /** Days since 1970: before 1900 and 1970, past 2262, and the extremes. */
  private val genDate: Gen[Any] = Gen.frequency(
    3 -> Gen.chooseNum(-80000, 120000), // 1750 … 2298
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, -25569, -25568, -1, 0, 106751, 2932896),
    1 -> Gen.chooseNum(Int.MinValue, Int.MaxValue))

  /** Microseconds since 1970 UTC, sub-millisecond parts and negatives
    * included (the serial floors to the millisecond). */
  private val genTimestamp: Gen[Any] = Gen.frequency(
    3 -> Gen.chooseNum(-7000000000000000L, 10000000000000000L), // 1748 … 2286
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 0L, 1L, -999L, -1000L,
      -1001L, 9223372036854775L, -86400000000L - 1),
    1 -> Gen.long)

  private val types: Seq[(DataType, Gen[Any])] = Seq(
    StringType -> genString, IntegerType -> genInt, LongType -> genLongValue,
    DoubleType -> genDouble, FloatType -> genFloat, BooleanType -> genBool,
    DateType -> genDate, TimestampType -> genTimestamp)

  private def nullable(g: Gen[Any]): Gen[Any] = Gen.frequency(3 -> g, 1 -> Gen.const(null))

  private val genTable: Gen[(StructType, Seq[InternalRow])] = for {
    nCols <- Gen.chooseNum(1, 8)
    cols <- Gen.listOfN(nCols, Gen.oneOf(types))
    nRows <- Gen.chooseNum(0, 12)
    rows <- Gen.listOfN(nRows, Gen.sequence[Seq[Any], Any](cols.map(c => nullable(c._2))))
  } yield {
    val schema = StructType(cols.zipWithIndex.map { case ((t, _), i) => StructField(s"c$i", t) })
    (schema, rows.map(r => new GenericInternalRow(r.toArray[Any]): InternalRow))
  }

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(raw)
    val out = new ByteArrayOutputStream
    val buf = new Array[Byte](1 << 16)
    var n = inf.inflate(buf)
    while (n > 0) { out.write(buf, 0, n); n = inf.inflate(buf) }
    inf.end()
    out.toByteArray
  }

  /** Runs `write` on both sides, row by row: each row either succeeds on
    * both or fails on both with the same message. Then the bytes. */
  private def sameBytes[R](rows: Seq[R])(typed: (XlsxRowSegment, R) => Unit)(
      spec: (CharSheetEncoder, R) => Unit): Prop = {
    val raw = new ByteArrayOutputStream
    val seg = new XlsxRowSegment(raw, "Sheet1")
    val ref = new CharSheetEncoder
    val outcomes = rows.map { r =>
      (Try(typed(seg, r)).failed.toOption.map(_.getMessage),
        Try(spec(ref, r)).failed.toOption.map(_.getMessage))
    }
    val stats = seg.close()
    val got = inflate(raw.toByteArray)
    val want = ref.rows
    val mismatch = outcomes.indexWhere { case (a, b) => a != b }
    (mismatch < 0) :| s"row $mismatch: typed ${outcomes.lift(mismatch)}" &&
      (stats.rows == outcomes.count(_._1.isEmpty)) :| s"rows ${stats.rows}" &&
      java.util.Arrays.equals(got, want) :|
        s"bytes differ at ${got.zip(want).indexWhere { case (a, b) => a != b }}: " +
          s"${new String(got, "UTF-8").take(400)} vs ${new String(want, "UTF-8").take(400)}"
  }

  property("typed Spark rows == the char encoder over the old boxed values") =
    Prop.forAll(genTable) { case (schema, rows) =>
      val cells = ExcelDataWriter.cells(schema, -1)
      sameBytes(rows)((seg, r) => seg.writeSparkRow(r, cells))(
        (ref, r) => ref.writeRow(CharSheetEncoder.boxed(schema, r)))
    }

  property("a routing column is left out of the typed cells") =
    Prop.forAll(genTable, Gen.chooseNum(0, 7)) { case ((schema, rows), k) =>
      val skip = k % schema.length
      val cells = ExcelDataWriter.cells(schema, skip)
      sameBytes(rows)((seg, r) => seg.writeSparkRow(r, cells))(
        (ref, r) => ref.writeRow(CharSheetEncoder.boxed(schema, r, skip)))
    }

  private final case class Opaque(s: String) { override def toString: String = s }

  /** Every value type `writeRow` accepts, boxed. */
  private val genBoxed: Gen[Any] = Gen.oneOf(
    genString.map(_.toString),
    genInt.map(i => java.lang.Integer.valueOf(i.asInstanceOf[Int])),
    genLongValue.map(l => java.lang.Long.valueOf(l.asInstanceOf[Long])),
    genDouble.map(d => java.lang.Double.valueOf(d.asInstanceOf[Double])),
    genFloat.map(f => java.lang.Float.valueOf(f.asInstanceOf[Float])),
    genBool.map(b => java.lang.Boolean.valueOf(b.asInstanceOf[Boolean])),
    Gen.chooseNum(-80000L, 120000L).map(d => java.time.LocalDate.ofEpochDay(d)),
    Gen.chooseNum(-7000000000000L, 10000000000000L).map(ms =>
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L),
        (Math.floorMod(ms, 1000L) * 1000000L).toInt, java.time.ZoneOffset.UTC)),
    Gen.chooseNum(-80000L, 120000L).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))),
    Gen.chooseNum(0L, 4000000000000L).map(ms => new java.sql.Timestamp(ms)),
    Gen.chooseNum(-32768, 32767).map(s => java.lang.Short.valueOf(s.toShort)),
    Gen.chooseNum(-1e6, 1e6).map(d => new java.math.BigDecimal(d)),
    Gen.oneOf("x", "a<b&c", "_x0041_", "\u0002").map(Opaque(_)),
    Gen.const(null))

  property("boxed rows through writeRow / writeHeaderRow == the char encoder") =
    Prop.forAll(Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf(true, false), Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, genBoxed)))))) {
      rows =>
        sameBytes(rows) { case (seg, (header, vs)) =>
          if (header) seg.writeHeaderRow(vs) else seg.writeRow(vs)
        } { case (ref, (header, vs)) =>
          if (header) ref.writeHeaderRow(vs) else ref.writeRow(vs)
        }
    }

  property("sheet names escape as the char encoder escaped them") =
    Prop.forAll(Gen.oneOf(genText, genInvalid).map(_.toString)) { s =>
      XlsxRowEncoder.escaped(s) == CharSheetEncoder.escapeXml(s)
    }
}
