package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property tests (SURVEY §5 — properties the reference's
  * example-based suite lacks): coordinate canonicalization idempotence,
  * classification partition totality, cleanse-chain invariants. Plain
  * `Properties` — sbt runs the ScalaCheck framework natively.
  */
object CleanseProps extends Properties("graft.cleanse") {

  property("cleanName output has no leading/trailing/doubled whitespace") =
    forAll(Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const(" "), Gen.const("\n"), Gen.const("\t"),
      Gen.const("\r"), Gen.const("  "))).map(_.mkString)) { s =>
      val out = Cleanse.cleanName(s)
      out == out.trim && !out.contains("  ") && !out.contains("\n") &&
        !out.contains("\t") && !out.contains("\r")
    }

  property("cleanName is idempotent") =
    forAll(Gen.asciiPrintableStr) { s =>
      val once = Cleanse.cleanName(s)
      Cleanse.cleanName(once) == once
    }

  property("normalizeWords preserves non-kerned text") =
    forAll(Gen.alphaStr.suchThat(_.length > 1)) { w =>
      Cleanse.normalizeWordsScala(w) == w
    }

  private val CodeLengths = Set(
    Cleanse.ProvinceCodeLength, Cleanse.RegencyCodeLength,
    Cleanse.DistrictCodeLength, Cleanse.VillageCodeLength)

  property("code-length classification is a total partition") =
    forAll(Gen.choose(0, 20)) { n =>
      // A code of length n lands in at most one entity class, and in
      // exactly one iff its length is a declared entity length.
      val classes = Seq(
        n == Cleanse.ProvinceCodeLength, n == Cleanse.RegencyCodeLength,
        n == Cleanse.DistrictCodeLength, n == Cleanse.VillageCodeLength)
      classes.count(identity) == (if (CodeLengths.contains(n)) 1 else 0)
    }
}

object ZOrderProps extends Properties("graft.zorder") {

  /** Inverse of [[ZOrderNative.spread]]: gather even bit positions. */
  private def unspread(z: Long): Long = {
    var v = 0L
    var i = 0
    while (i < 32) { v |= ((z >>> (2 * i)) & 1L) << i; i += 1 }
    v
  }

  private val u32 = Gen.choose(0L, 0xFFFFFFFFL)

  property("interleave round-trips both coordinates") =
    forAll(u32, u32) { (x, y) =>
      val z = ZOrderNative.interleave(x, y)
      unspread(z) == x && unspread(z >>> 1) == y
    }

  property("interleave is monotone in x for fixed y (unsigned order)") =
    forAll(u32, u32, u32) { (a, b, y) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      lo == hi || java.lang.Long.compareUnsigned(
        ZOrderNative.interleave(lo, y), ZOrderNative.interleave(hi, y)) < 0
    }

  property("bits beyond the low 32 are masked off") =
    forAll(Gen.long, Gen.long) { (x, y) =>
      ZOrderNative.interleave(x, y) ==
        ZOrderNative.interleave(x & 0xFFFFFFFFL, y & 0xFFFFFFFFL)
    }
}

object CoordinateProps extends Properties("graft.coordinates") {

  private val dmsGen: Gen[String] = for {
    latD <- Gen.choose(0, 89)
    latM <- Gen.choose(0, 59)
    latS <- Gen.choose(0.0, 59.99)
    latH <- Gen.oneOf("U", "LU", "S", "LS", "N")
    lonD <- Gen.choose(0, 179)
    lonM <- Gen.choose(0, 59)
    lonS <- Gen.choose(0.0, 59.99)
    lonH <- Gen.oneOf("T", "BT", "B", "BB", "E")
  } yield f"""$latD%02d°$latM%02d'$latS%05.2f" $latH $lonD%03d°$lonM%02d'$lonS%05.2f" $lonH"""

  property("format_coordinate is idempotent on parseable DMS pairs") =
    forAll(dmsGen) { s =>
      val once = Coordinates.formatCoordinateScala(s)
      Coordinates.formatCoordinateScala(once) == once
    }

  property("format_coordinate never throws on printable ASCII") =
    forAll(Gen.asciiPrintableStr) { s =>
      Coordinates.formatCoordinateScala(s)
      Prop.passed
    }

  property("empty and null map to empty") = Prop {
    Coordinates.formatCoordinateScala("") == "" &&
      Coordinates.formatCoordinateScala(null) == ""
  }
}
