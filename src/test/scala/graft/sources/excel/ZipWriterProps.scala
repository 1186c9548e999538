package graft.sources.excel

import java.util.zip.CRC32

import org.scalacheck.{Gen, Prop, Properties}

/** The CRC-32 combination the driver's splice relies on: combining the
  * pieces' CRCs of any cut of a byte array gives the whole array's CRC. */
object ZipWriterProps extends Properties("zip.writer") {

  private def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }

  private val genCut: Gen[(Array[Byte], Seq[Int])] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.chooseNum(1, 3000))
    bytes <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    k <- Gen.chooseNum(0, 6)
    cuts <- Gen.listOfN(k, Gen.chooseNum(0, n)) // repeats give empty pieces
  } yield (bytes.toArray, cuts.sorted)

  property("crc32Combine of the pieces == CRC-32 of the whole") =
    Prop.forAll(genCut) { case (bytes, cuts) =>
      val bounds = (0 +: cuts :+ bytes.length).sliding(2).toSeq
      val combined = bounds.foldLeft(0L) { case (acc, Seq(from, to)) =>
        ZipWriter.crc32Combine(acc, crc(bytes.slice(from, to)), (to - from).toLong)
      }
      combined == crc(bytes)
    }
}
