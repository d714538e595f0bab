package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.dedup.Dedup
import graft.functions.{Md5, ShingleHashSet, SimHash32, SimHash64}

/** Native codegen shingle-hash-set and simhash32: bit-for-bit parity
  * with the plain-Scala reference kernels the former UDFs wrapped,
  * null safety, SQL registration, and codegen-friendliness (these are
  * the near-dup family's hottest stage — a fence here is the thing the
  * expressions exist to remove). */
class ShingleHashExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  /** The pre-expression reference semantics: the Dedup shingle
    * builders the DuckDB oracles mirror, each shingle hashed by the JCA
    * md5 (top 60 bits of the digest), independent of the [[Md5]]
    * kernel under test. */
  private def refShingleSet(t: String, mode: Dedup.ShingleMode): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    mode(t).map(sh => java.nio.ByteBuffer.wrap(md.digest(sh.getBytes("UTF-8"))).getLong >>> 4)
      .distinct.sorted
  }

  private def refSimhash32(text: String): Long = {
    val toks = text.trim.toLowerCase.split("\\s+").distinct.filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](32)
    toks.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8")); md.reset()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var b = 0
      while (b < 32) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
    }
    (0 until 32).foldLeft(0L)((acc, b) =>
      if (counts(b) * 2 > toks.length) acc | (1L << b) else acc)
  }

  // 2-, 3- and 4-byte UTF-8 characters (the 4-byte one is a UTF-16
  // surrogate pair, which char windows can split) and a lone surrogate
  // put texts on the String fallback of the shingle kernel; the long
  // word runs past the single-block md5 limit
  private val textGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.const("\t"),
      Gen.const("é"), Gen.const("€"), Gen.const("\uD834\uDD1E"), Gen.const("\uD800"),
      Gen.const("The"), Gen.const("x" * 60))).map(_.mkString),
    Gen.const(""), Gen.const("   "), Gen.const("a"), Gen.const("ab"))

  test("md5 kernel ≡ MessageDigest for every length 0-64 (property)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bytesOf(w: Array[Int]): Seq[Byte] =
      w.toSeq.flatMap(x => (0 until 4).map(i => (x >>> (8 * i)).toByte))
    val bytesGen = for {
      len <- Gen.choose(0, 64)
      bs <- Gen.listOfN(len, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield bs.toArray
    val w = new Array[Int](4)
    ScalaCheckSupport.checkProp(Prop.forAll(bytesGen, Gen.choose(0, 7)) {
      (bs: Array[Byte], pad: Int) =>
        val want = md.digest(bs).toSeq
        Md5.digestWords(bs, w)
        val whole = bytesOf(w)
        // the same bytes read in place at an offset inside a larger array
        val framed = Array.fill[Byte](pad)(0x5a) ++ bs ++ Array.fill[Byte](pad)(-1)
        Md5.digestWords(framed, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pad,
          bs.length, w)
        whole == want && bytesOf(w) == want &&
          Md5.top64(w) == java.nio.ByteBuffer.wrap(want.toArray).getLong
    }, minSuccessful = 2000)
    // every length once, with a fixed seed, including 55/56 (one block / two)
    val rnd = new scala.util.Random(55)
    (0 to 64).foreach { len =>
      val bs = Array.fill[Byte](len)(rnd.nextInt(256).toByte)
      Md5.digestWords(bs, w)
      assert(bytesOf(w) == md.digest(bs).toSeq, s"length $len")
    }
    // strings: UTF-8, a lone surrogate encoded as '?'
    Seq("", "a", "€𝄞é", "\uD800", "x\uDC00y", "y" * 56).foreach { t =>
      Md5.digestWords(t, w)
      assert(bytesOf(w) == md.digest(t.getBytes("UTF-8")).toSeq, t)
    }
  }

  test("shingle_hash_set ≡ reference kernel (char + word, property)") {
    ScalaCheckSupport.checkProp(Prop.forAll(textGen, Gen.choose(1, 6)) { (t: String, n: Int) =>
      val charOut = ShingleHashSet.evalUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), word = false, n)
      val wordOut = ShingleHashSet.evalUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), word = true, n)
      charOut.toLongArray.toSeq == refShingleSet(t, Dedup.CharShingles(n)) &&
        wordOut.toLongArray.toSeq == refShingleSet(t, Dedup.WordShingles(n))
    })
  }

  test("simhash32 ≡ reference kernel (property)") {
    ScalaCheckSupport.checkProp(Prop.forAll(textGen) { (t: String) =>
      SimHash32.evalUtf8(org.apache.spark.unsafe.types.UTF8String.fromString(t)) ==
        refSimhash32(t)
    })
  }

  /** 64-bit reference: same vote, token hash = first 8 md5 bytes
    * big-endian (== first 16 hex chars as unsigned — what q93's DuckDB
    * oracle reassembles from two signed 32-bit halves). */
  private def refSimhash64(text: String): Long = {
    val toks = text.trim.toLowerCase.split("\\s+").distinct.filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    toks.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8")); md.reset()
      val h = (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (d(k) & 0xffL))
      var b = 0
      while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
    }
    (0 until 64).foldLeft(0L)((acc, b) =>
      if (counts(b) * 2 > toks.length) acc | (1L << b) else acc)
  }

  test("simhash64 ≡ reference kernel (property), low half ≡ simhash32") {
    ScalaCheckSupport.checkProp(Prop.forAll(textGen) { (t: String) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val h64 = SimHash64.evalUtf8(u)
      // bits 32..63 of the 64-bit hash vote on md5 bytes 0-3 = exactly
      // the 32 bits simhash32 votes on (shifted) — a structural
      // cross-check between the two kernels, not just the reference
      h64 == refSimhash64(t) && (h64 >>> 32) == SimHash32.evalUtf8(u)
    })
  }

  test("null-safe in a plan") {
    val df = Seq(Option.empty[String], Some("the quick brown fox")).toDF("t")
    val sh = df.select(ShingleHashSet.shingleHashSet(col("t"), Dedup.WordShingles(2)))
      .as[Option[Seq[Long]]].collect()
    assert(sh(0).isEmpty && sh(1).nonEmpty)
    val si = df.select(SimHash32.simhash32(col("t"))).as[Option[Long]].collect()
    assert(si(0).isEmpty && si(1).nonEmpty)
  }

  test("registers as SQL functions (extensions path)") {
    GraftExtensions.register(spark)
    val hs = spark.sql("SELECT shingle_hash_set('abcd', false, 3) AS h")
      .as[Seq[Long]].head()
    assert(hs == refShingleSet("abcd", Dedup.CharShingles(3)))
    val sh = spark.sql("SELECT simhash32('the quick brown fox') AS h").as[Long].head()
    assert(sh == refSimhash32("the quick brown fox"))
    val sh64 = spark.sql("SELECT simhash64_md5('the quick brown fox') AS h").as[Long].head()
    assert(sh64 == refSimhash64("the quick brown fox"))
    val dot = spark.sql("SELECT dot_longs(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .as[Long].head()
    assert(dot == 4L + 10L + 18L)
    // non-literal word/n rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hash_set('x', false, CAST(rand()*3 AS INT))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }

  test("jaccard_hash_sets ≡ linear-merge reference (property, sorted distinct inputs)") {
    val setGen = Gen.listOf(Gen.chooseNum(0L, 40L)).map(_.distinct.sorted)
    ScalaCheckSupport.checkProp(Prop.forAll(setGen, setGen) { (a, b) =>
      if (a.isEmpty && b.isEmpty) true // 0/0 — NaN on both sides, vacuous
      else {
        val inter = a.toSet.intersect(b.toSet).size
        val expected = inter.toDouble / (a.size + b.size - inter).toDouble
        val got = graft.functions.JaccardHashSets.evalArrays(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray))
        got == expected
      }
    })
  }

  test("minhash_band_sigs ≡ permutation-minhash reference (property)") {
    val p = Dedup.MinhashP
    // independent reference: the %-based definition the SQL oracles inline
    def ref(hs: Seq[Long], k: Int): Seq[Long] = Dedup.permConsts(k).map { case (a, b) =>
      hs.map(x => (a * (x % p) + b) % p).min
    }
    // hashes at and around multiples of P, and the largest 60-bit hash
    val edges = Seq(0L, p - 1, p, p + 1, 2 * p, (1L << 60) - 1)
    val hGen = Gen.nonEmptyListOf(Gen.frequency(
      4 -> Gen.chooseNum(0L, Long.MaxValue >>> 4), 1 -> Gen.oneOf(edges)))
    ScalaCheckSupport.checkProp(Prop.forAll(hGen, Gen.choose(1, 6), Gen.choose(1, 4)) {
      (hs, bands, rpb) =>
        val mins = ref(hs, bands * rpb)
        val expected = (0 until bands).map(b =>
          (0 until rpb).map(r => mins(b * rpb + r)).mkString("|"))
        val got = graft.functions.MinhashBandSigs.evalArray(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray), bands, rpb)
        (0 until bands).forall(i => got.getUTF8String(i).toString == expected(i))
    })
  }

  test("oph densification: slot values, rotation borrow, sentinel cases") {
    import graft.functions.OphBandSigs
    val p = Dedup.MinhashP
    val (a, b) = Dedup.permConsts(1).head
    // reference: independent per-element computation + brute densify
    def ref(hs: Seq[Long], k: Int): Seq[Long] = {
      val binned = hs.map { x =>
        val v = (a * (x % p) + b) % p
        (((v * k) / p).toInt, v)
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      if (binned.isEmpty) Seq.fill(k)(Long.MaxValue)
      else (0 until k).map { j =>
        val t = (0 until k).find(t => binned.contains((j + t) % k)).get
        binned((j + t) % k) + t.toLong * p
      }
    }
    ScalaCheckSupport.checkProp(Prop.forAll(
      Gen.listOf(Gen.chooseNum(0L, Long.MaxValue >>> 4)), Gen.choose(2, 5), Gen.choose(1, 4)) {
      (hs, bands, rpb) =>
        val k = bands * rpb
        val mins = ref(hs, k)
        val expected = (0 until bands).map(bb =>
          (0 until rpb).map(r => mins(bb * rpb + r)).mkString("|"))
        val got = OphBandSigs.evalArray(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray), bands, rpb)
        (0 until bands).forall(i => got.getUTF8String(i).toString == expected(i))
    })
    val edges = Array(0L, p - 1, p, p + 1, 2 * p, (1L << 60) - 1)
    assert(OphBandSigs.ophMins(edges, 8).toSeq == ref(edges.toSeq, 8))
    ScalaCheckSupport.checkProp(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { v =>
      Dedup.modP(v) == v % p
    }, minSuccessful = 2000)
    // identical sets -> identical signatures (the LSH premise)
    val s1 = OphBandSigs.ophMins(Array(7L, 99L, 123456789L), 8)
    val s2 = OphBandSigs.ophMins(Array(7L, 99L, 123456789L), 8)
    assert(s1.toSeq == s2.toSeq)
  }

  test("oph candidates reach full recall at the banding's design threshold") {
    // corpus-style fixture: 3 exact-ish template families (high-J
    // pairs well above the (8,4) threshold ~0.59) + unrelated docs.
    // OPH must bucket every within-family pair, and no candidate pair
    // may cross families after exact-Jaccard verification.
    val mk = (seed: Int, tail: String) =>
      s"template family $seed repeated body of text shared across near duplicates $seed $tail"
    val docs = (0 until 3).flatMap(f => (0 until 4).map(i =>
      (f * 10L + i, mk(f, if (i == 0) "" else s"variant $i")))) ++
      Seq((100L, "completely unrelated content about something else entirely"))
    val df = docs.toDF("doc_id", "text")
    val cand = Dedup.ophCandidatePairs(df, "doc_id", "text",
      Dedup.CharShingles(5), bands = 8, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (f <- 0 until 3; i <- 0 until 4; j <- i + 1 until 4)
      assert(cand.contains((f * 10L + i, f * 10L + j)),
        s"missing within-family pair ($f: $i,$j)")
    assert(!cand.exists { case (x, y) => x == 100L || y == 100L },
      "unrelated doc bucketed")
  }

  test("stays inside whole-stage codegen (no fence on the hot path)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(ShingleHashSet.shingleHashSet(col("text"), Dedup.CharShingles(5)).as("h"),
        SimHash32.simhash32(col("text")).as("s"))
      .filter(size(col("h")) > 0)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), s"codegen broken:\n$p")
    // parity on real data vs the reference kernels (driver-side)
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"),
        ShingleHashSet.shingleHashSet(col("text"), Dedup.WordShingles(2)).as("h"),
        SimHash32.simhash32(col("text")).as("s"))
      .limit(50).collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getSeq[Long](1) == refShingleSet(t, Dedup.WordShingles(2)))
      assert(r.getLong(2) == refSimhash32(t))
    }
  }
}
