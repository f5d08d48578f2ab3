package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{GraftRegistrar, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.SparkTestBase

/** The one-pass `minhash128` kernel against the per-window
  * `substringSQL` algorithm it replaced: identical signatures for null,
  * empty, short, multi-byte, seeded and invalid-UTF-8 text, under compiled
  * and interpreted evaluation. */
class MinHash128Spec extends SparkTestBase {
  import TextOps.{MinhashP, NumPerms, ShingleWidth, permA, permB}

  /** The signature of a list of shingle byte windows (the kernel's
    * arithmetic: top 60 bits of md5 mod P, then 128 universal hashes). */
  private def sigOf(windows: Seq[Array[Byte]]): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sigs = Array.fill(NumPerms)(Long.MaxValue)
    windows.foreach { w =>
      val d = md.digest(w)
      val h = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xFFL))
      val hp = (h >>> 4) % MinhashP
      for (j <- 0 until NumPerms) sigs(j) = math.min(sigs(j), (permA(j) * hp + permB(j)) % MinhashP)
    }
    sigs.toSeq
  }

  /** The reference: the pre-one-pass kernel, one `substringSQL` per window. */
  private def reference(bytes: Array[Byte]): Seq[Long] = {
    val text = UTF8String.fromBytes(bytes)
    val last = math.max(text.numChars() - (ShingleWidth - 1), 1)
    sigOf((1 to last).map(p => text.substringSQL(p, ShingleWidth).getBytes))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString

  private def bytesOf(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** (id, hex of the text's bytes) rows, RDD-backed so no rule folds the
    * kernel into a literal; the text column is `unhex(hex)` cast to string,
    * so invalid UTF-8 reaches the kernel unchanged. */
  private def signatures(texts: Seq[Option[Array[Byte]]], mode: String, wholeStage: Boolean)
      : Map[Int, Option[Seq[Long]]] = {
    GraftRegistrar.ensure(spark)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("hex", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i, t.map(hex).orNull) }, 3), schema)
    val text = unhex(col("hex")).cast("string")
    val rows = withCodegen(mode, wholeStage) {
      df.select(col("id"), text.cast("binary"), call_function("minhash128", text)).collect()
    }
    // the cast passes the bytes through unchanged, invalid ones included
    rows.foreach { r =>
      assert(Option(r.getAs[Array[Byte]](1)).map(_.toSeq) === texts(r.getInt(0)).map(_.toSeq))
    }
    rows.map(r => r.getInt(0) -> Option(r.getSeq[Long](2)).map(_.toSeq)).toMap
  }

  private val invalid: Seq[String] = Seq(
    "6162806364656667686970",           // a lone continuation byte mid-text
    "FFFE6162636465666768696A6B",       // bytes that start no sequence
    "616263E04142206465666768696A6B6C", // a 3-byte lead that swallows "AB"
    "C080206F7665726C6F6E6720746578742068657265", // an overlong NUL
    "F09F988061626364656667E282AC")     // a 4-byte emoji, ending on a whole €

  private def seeded(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val alphabet = "abcdefgh ijklmnop  qrstuvwxyzé日本語ñ—😀".codePoints().toArray
    (0 until n).map { _ =>
      val len = r.nextInt(1500)
      new String((0 until len).map(_ => alphabet(r.nextInt(alphabet.length))).toArray, 0, len)
    }
  }

  private val texts: Seq[Option[Array[Byte]]] = {
    val valid = Seq("", "a", "short", "exactly8", "ninechars",
      "héllo wörld — ñandú 日本語のテキスト 😀 emoji") ++ seeded(50, 17L)
    None +: (valid.map(_.getBytes(UTF_8)) ++ invalid.map(bytesOf)).map(Some(_))
  }

  for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
    test(s"minhash128 ≡ the per-window substringSQL reference ($mode)") {
      val got = signatures(texts, mode, ws)
      assert(got.size === texts.length)
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i) === t.map(reference), s"$mode row $i")
      }
    }
  }

  test("a lead byte cut off by the end of the text takes the bytes that remain") {
    // "abcdefgh" + the first byte of a 3-byte sequence: nine characters,
    // two windows, the second ending on the lone lead byte
    val bytes = "abcdefgh".getBytes(UTF_8) :+ 0xE3.toByte
    val want = sigOf(Seq(bytes.take(8), bytes.drop(1)))
    for ((mode, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
      assert(signatures(Seq(Some(bytes)), mode, ws)(0) === Some(want), mode)
    }
  }
}
