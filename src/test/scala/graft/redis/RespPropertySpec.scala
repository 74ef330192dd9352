package graft.redis

import java.io.ByteArrayInputStream

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: any RESP value tree encodes/parses back to itself, and
  * any command arg vector frames losslessly — the from-scratch codec must
  * never corrupt a byte. (Plain ScalaCheck generators driven by fixed
  * seeds, same pattern as SsPropertySpec.)
  */
class RespPropertySpec extends AnyFunSuite {

  // simple strings / errors must not contain CR/LF (protocol constraint)
  private val lineGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 40)
    cs <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '-', '_', ':', '.')))
  } yield cs.mkString

  private val bulkGen: Gen[Resp.Value] = Gen.chooseNum(0, 200)
    .flatMap(n => Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
    .map(bs => Resp.Bulk(bs.toArray))

  private def valueGen(depth: Int): Gen[Resp.Value] =
    if (depth <= 0)
      Gen.oneOf(
        lineGen.map(Resp.Simple.apply),
        lineGen.map(s => Resp.Err(s"ERR $s")),
        Arbitrary.arbitrary[Long].map(Resp.Num.apply),
        bulkGen,
        Gen.const(Resp.NullBulk),
        Gen.const(Resp.NullArr))
    else
      Gen.frequency(
        3 -> valueGen(0),
        2 -> (for {
          n <- Gen.chooseNum(0, 5)
          items <- Gen.listOfN(n, valueGen(depth - 1))
        } yield Resp.Arr(items)))

  private def sameValue(a: Resp.Value, b: Resp.Value): Boolean = (a, b) match {
    case (Resp.Bulk(x), Resp.Bulk(y)) => java.util.Arrays.equals(x, y)
    case (Resp.Arr(xs), Resp.Arr(ys)) =>
      xs.size == ys.size && xs.zip(ys).forall((sameValue _).tupled)
    case (x, y) => x == y
  }

  test("value trees roundtrip encode/parse") {
    (1 to 200).foreach { i =>
      valueGen(3).apply(Gen.Parameters.default, Seed(i.toLong * 104729))
        .foreach { v =>
          val back = Resp.parse(new ByteArrayInputStream(Resp.encodeValue(v)))
          assert(sameValue(v, back), s"case $i: $v != $back")
        }
    }
  }

  test("command frames parse back as arrays of exact bulk bytes") {
    val argGen = Gen.chooseNum(0, 100)
      .flatMap(n => Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
      .map(_.toArray)
    (1 to 100).foreach { i =>
      Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, argGen))
        .apply(Gen.Parameters.default, Seed(i.toLong * 7919))
        .foreach { args =>
          val back = Resp.parse(
            new ByteArrayInputStream(Resp.encodeCommand(args)))
          back match {
            case Resp.Arr(items) =>
              assert(items.size == args.size)
              items.zip(args).foreach {
                case (Resp.Bulk(b), a) =>
                  assert(java.util.Arrays.equals(b, a))
                case other => fail(s"non-bulk arg: $other")
              }
            case other => fail(s"command did not frame as array: $other")
          }
        }
    }
  }

  private def parseBytes(b: Array[Byte]): Resp.Value =
    Resp.parse(Resp.buffered(new ByteArrayInputStream(b)))

  private def parseLine(s: String): Resp.Value =
    parseBytes(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  test("integer, length and count lines accept and reject what toLong/toInt do") {
    val fixed = Seq("", "-", "+", "0", "-0", "+7", "007", "12a", " 1", "1 ",
      "-1", "--1", "+-1", "9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809", "2147483647",
      "2147483648", "-2147483648", "-2147483649", "99999999999999999999",
      "\u00ef\u00bc\u0091", "1\n2")
    val random = (1 to 300).flatMap { i =>
      Gen.chooseNum(0, 22).flatMap(n => Gen.listOfN(n,
        Gen.oneOf("0123456789+- a\u00e9".toSeq)).map(_.mkString))
        .apply(Gen.Parameters.default, Seed(i.toLong * 6007))
    }
    (fixed ++ random).foreach { line =>
      val asLong = scala.util.Try(line.toLong)
      scala.util.Try(parseLine(s":$line\r\n")) match {
        case scala.util.Success(Resp.Num(n)) => assert(asLong.toOption.contains(n), line)
        case scala.util.Failure(_: NumberFormatException) => assert(asLong.isFailure, line)
        case other => fail(s"':$line': $other")
      }
      val asInt = scala.util.Try(line.toInt)
      // a count line: an array of that many empty bulks, or the null array
      val items = asInt.toOption.filter(n => n > 0 && n < 100).getOrElse(0)
      scala.util.Try(parseLine(s"*$line\r\n" + "$0\r\n\r\n" * items)) match {
        case scala.util.Success(Resp.NullArr) => assert(asInt.toOption.exists(_ < 0), line)
        case scala.util.Success(Resp.Arr(xs)) =>
          assert(asInt.toOption.contains(xs.size), line)
        case scala.util.Failure(_: NumberFormatException) => assert(asInt.isFailure, line)
        case scala.util.Failure(_: java.io.EOFException) =>
          assert(asInt.toOption.exists(_ >= 100), line) // more items than sent
        case other => fail(s"'*$line': $other")
      }
    }
  }

  test("short reads are EOFException; unknown type bytes are refused") {
    Seq("", ":12", "$5\r\nab", "$3\r\nabc", "$3\r\nabc\r", "*2\r\n:1\r\n",
      "+OK", "-ERR x", "$", "*").foreach { wire =>
      intercept[java.io.EOFException](parseLine(wire))
    }
    intercept[java.io.EOFException](parseLine(":12\rX"))
    intercept[java.io.EOFException](parseLine("$1\r\naXY"))
    intercept[IllegalArgumentException](parseLine("?what\r\n"))
  }
}
