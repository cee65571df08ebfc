package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Formulas, GraftFunctions, Impls}
import org.apache.spark.unsafe.types.UTF8String

object SparkTestSession {
  // local[4, 2]: maxFailures=2, so a task may fail once and RETRY —
  // required by RetryDeterminismSpec (round-10 verdict task 5: the
  // native operators must be re-execution-stable under Spark's task
  // retry/speculation model). Genuine task failures elsewhere in the
  // suite now surface on the second attempt instead of the first.
  // The engine's own session, so the suite plans and resolves as Bench,
  // Verify and DumpPlans do; the one session built in the test JVM.
  lazy val spark: SparkSession = {
    val s = EngineSession.create("local[4, 2]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class FunctionsSpec extends AnyFunSuite {
  private def u(s: String) = UTF8String.fromString(s)
  lazy val spark: SparkSession = SparkTestSession.spark

  test("nfc_normalize composes decomposed sequences, fast-paths NFC input") {
    // decomposed e + COMBINING ACUTE -> precomposed é
    assert(Impls.nfcNormalize(u("école")).toString == "école")
    assert(Impls.nfcNormalize(u("école")).numChars == 5)
    // decomposed Hangul jamo compose to the syllable block
    assert(Impls.nfcNormalize(u("한")).toString == "한")
    // NFC (not NFKC): compatibility chars like the fi-ligature stay put
    assert(Impls.nfcNormalize(u("ﬁle")).toString == "ﬁle")
    // already-normalized input returns the SAME UTF8String (no re-encode)
    val ascii = u("plain ascii stays")
    assert(Impls.nfcNormalize(ascii) eq ascii)
    // and the Column API round-trips through codegen
    import spark.implicits._
    val got = Seq("école", "café").toDF("t")
      .select(GraftFunctions.nfc_normalize($"t").as("n"))
      .as[String].collect().toSeq
    assert(got == Seq("école", "café"))
  }

  test("jaro_winkler: classic golden values, boost threshold, codegen") {
    def jw(a: String, b: String) = Impls.jaroWinkler(u(a), u(b))
    // Winkler's canonical example: jaro 17/18, prefix 3
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    // prefix 2, jaro 23/30 (the standard DIXON example)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    // no common prefix -> boost is a no-op
    assert(math.abs(jw("CRATE", "TRACE") - 0.7333333333333334) < 1e-15)
    // jaro <= 0.7: boost threshold suppresses the prefix bonus
    assert(math.abs(jw("aXXXXX", "aYYYYY") - 0.4444444444444444) < 1e-15)
    // transpositions: abcd/abdc has one (t=1), prefix 2
    assert(math.abs(jw("abcd", "abdc") - 0.9333333333333333) < 1e-15)
    // ODD half-transposition count: strcmp95/Commons/DuckDB floor it
    // (t = half/2 integer division). These 39/40-char strings have
    // half = 21 -> t = 10; the exact-half variant (t = 10.5) diverged
    // from DuckDB here — the dd_snm regression this line pins.
    assert(math.abs(jw("agg column part slow scan the merge key",
      "agg customer key batch query data spark ")
      - 0.8247524314765695) < 1e-15)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("", "") == 1.0)
    assert(jw("a", "b") == 0.0)
    // symmetric
    assert(jw("JELLYFISH", "SMELLYFISH") == jw("SMELLYFISH", "JELLYFISH"))
    // Column API + SQL registration ride whole-stage codegen
    import spark.implicits._
    val got = Seq(("MARTHA", "MARHTA")).toDF("a", "b")
      .select(GraftFunctions.jaro_winkler($"a", $"b").as("jw"))
      .as[Double].head()
    assert(math.abs(got - 0.9611111111111111) < 1e-15)
    val sql = spark.sql("SELECT jaro_winkler('DIXON', 'DICKSONX') AS jw")
      .as[Double].head()
    assert(math.abs(sql - 0.8133333333333332) < 1e-15)
  }

  // FIXTURES.md §1.1 worked NMEA sentences.
  test("nmea checksum golden sentences") {
    assert(Impls.nmeaChecksum(
      u("$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,")).toString == "47")
    assert(Impls.nmeaValid(
      u("$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47")))
    assert(Impls.nmeaValid(u("$GPZDA,160012.71,11,03,2004,-1,00*7D")))
    assert(!Impls.nmeaValid(u("$GPZDA,160012.71,11,03,2004,-1,01*7D")))
    assert(!Impls.nmeaValid(u("no checksum here")))
  }

  test("nmea checksum generate-verify property") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(40)).mkString
      val full = "$" + s + "*" + Impls.nmeaChecksum(u("$" + s)).toString
      assert(Impls.nmeaValid(u(full)))
    }
  }

  test("round-3 natives register for the SQL surface") {
    val r = spark.sql(
      "SELECT count_in_set(tokens_ws('the cat and the hat'), array('the','and')) AS c, " +
        "minhash_sig(shingles(tokens_ws('a b c d'), 2), 4) AS sig").head()
    assert(r.getInt(0) == 3)
    assert(r.getSeq[String](1).length == 4)
    assert(r.getSeq[String](1).forall(_.matches("[0-9a-f]{32}")))
  }

  test("vec_sqdist: bit-equal to the aggregate(zip_with) fold it replaced") {
    // round-15: the ANN literal-centroid scoring moved from interpreted
    // aggregate(zip_with((x,y) -> (x-y)*(x-y))) lambdas to the native
    // VecSqDist codegen expression — this pins the IEEE fold identity on
    // values that exercise rounding (non-representable decimals, signed
    // zeros, large/small mixes), plus the ragged-length guard
    val r = spark.sql(
      """SELECT vec_sqdist(a, b) AS native,
        |  aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
        |            CAST(0.0 AS DOUBLE), (acc, d) -> acc + d) AS lambda
        |FROM VALUES
        |  (array(0.1d, 0.2d, 0.3d), array(0.3d, 0.2d, 0.1d)),
        |  (array(1e300d, -1e300d), array(-1e-300d, 1e-300d)),
        |  (array(-0.0d, 0.0d), array(0.0d, -0.0d)),
        |  (array(1.0000001d), array(1.0d)) AS t(a, b)""".stripMargin)
      .collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1)),
        s"fold divergence: ${row.getDouble(0)} vs ${row.getDouble(1)}")
    }
    val e = intercept[Exception] {
      spark.sql("SELECT vec_sqdist(array(1.0d, 2.0d), array(3.0d))").head()
    }
    assert(e.getMessage != null)
  }

  test("expression guard rails: null tokens, ragged vectors, bad k") {
    // shingles over a null-bearing token array must match the documented
    // concat_ws rendering (skip nulls) on BOTH array representations —
    // UnsafeArrayData previously read a null slot as an empty string
    // while GenericArrayData returned null
    val viaSql = spark.sql(
      "SELECT shingles(array('a', CAST(NULL AS STRING), 'b'), 2) AS s").head()
      .getSeq[String](0)
    assert(viaSql == Seq("a", "b"), s"got $viaSql")
    val viaParquet = {
      val p = java.nio.file.Files.createTempDirectory("fn_guard").toString
      spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS toks")
        .write.mode("overwrite").parquet(p)
      val r = spark.read.parquet(p)
        .selectExpr("shingles(toks, 2) AS s").head().getSeq[String](0)
      r
    }
    assert(viaParquet == viaSql,
      s"representation-dependent shingles: $viaParquet vs $viaSql")
    // ragged vec_dot raises instead of silently truncating (the lambda
    // rendering nulls the sum there — a silent number would diverge)
    val e1 = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d)) AS d").head()
    }
    assert(e1.getMessage != null)
    // k <= 0 is a clear argument error, not an AIOOBE from inside a task
    val e2 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('x'), 0) AS s").head()
    }
    assert(e2.getMessage != null)
    val e3 = intercept[Exception] {
      spark.sql("SELECT shingles(array('a','b'), -1) AS s").head()
    }
    assert(e3.getMessage != null)
  }

  test("crc16/modbus + lrc check values") {
    assert(Impls.crc16Modbus(u("123456789")) == 0x4b37)
    assert(Impls.crc16Modbus(u("")) == 0xffff)
    assert(Impls.lrc(u("123456789")) == 0x23)
  }

  test("signed n-bit reinterpret") {
    assert(Impls.signedNBit(0xfffL, 12) == -1L)
    assert(Impls.signedNBit(2048L, 12) == -2048L)
    assert(Impls.signedNBit(2047L, 12) == 2047L)
    assert(Impls.signedNBit(0xffL, 8) == -1L)
    assert(Impls.signedNBit(127L, 8) == 127L)
    (0L to 255L).foreach { v =>
      val s = Impls.signedNBit(v, 8)
      assert(s >= -128 && s <= 127 && ((s + 256) % 256) == v % 256)
    }
  }

  test("bcd round-trip") {
    assert(Impls.bcdDecode(0x25L) == 25L)
    assert(Impls.bcdEncode(25L) == 0x25L)
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val v = rnd.nextLong(100000000L)
      assert(Impls.bcdDecode(Impls.bcdEncode(v)) == v)
    }
  }

  test("simhash64: identical token sets agree, disjoint differ") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: String*) = new GenericArrayData(xs.map(u).toArray[Any])
    val a = Impls.simhash64(arr("spark", "query", "engine", "fast"))
    val b = Impls.simhash64(arr("spark", "query", "engine", "fast"))
    assert(a == b)
    val c = Impls.simhash64(arr("totally", "different", "words", "here"))
    assert(java.lang.Long.bitCount(a ^ c) > 0)
  }

  test("rolling hash deterministic and spread") {
    assert(Impls.rollingHash(u("abc")) == (('a' * 31L + 'b') * 31 + 'c') % 1000000007L)
    assert(Impls.rollingHash(u("abc")) != Impls.rollingHash(u("acb")))
  }

  // PSS-78: S(C=42.914 mS/cm, T=15, P=0) == 35 by construction (a-coeffs
  // sum to 35, delta-S term vanishes at T=15).
  test("salinity PSS-78 fixed point") {
    val df = spark.sql(
      s"SELECT ${Formulas.salinitySql("42.914", "15.0", "0.0")} AS s")
    val got = df.collect()(0).getDouble(0)
    // published coefficients are truncated to ~7 digits; 1e-6 is the
    // attainable fixed-point accuracy
    assert(math.abs(got - 35.0) < 1e-6, s"got $got")
  }

  // UNESCO TR44 check value: svel(S=40, T=40, P=10000 dbar) = 1731.995 m/s.
  test("sound velocity UNESCO check value") {
    val df = spark.sql(
      s"SELECT ${Formulas.soundVelocitySql("40.0", "40.0", "10000.0")} AS c")
    val got = df.collect()(0).getDouble(0)
    assert(math.abs(got - 1731.995) < 0.01, s"got $got")
  }

  test("true wind: stationary ship keeps apparent; headway cancels") {
    // stationary: true == apparent (from 045 deg at 7 m/s)
    val r1 = spark.sql(
      s"SELECT ${Formulas.trueWindSpeedSql("7.0", "45.0", "0.0", "0.0", "0.0")} AS ws, " +
        s"${Formulas.trueWindDirSql("7.0", "45.0", "0.0", "0.0", "0.0")} AS wd").collect()(0)
    assert(math.abs(r1.getDouble(0) - 7.0) < 1e-9)
    assert(math.abs(r1.getDouble(1) - 45.0) < 1e-9)
    // ship north at 5 m/s in still air: apparent 5 m/s from dead ahead
    val r2 = spark.sql(
      s"SELECT ${Formulas.trueWindSpeedSql("5.0", "0.0", "0.0", "5.0", "0.0")} AS ws").collect()(0)
    assert(math.abs(r2.getDouble(0)) < 1e-9)
  }

  test("haversine: one degree of latitude ~ 111 km") {
    val d = spark.sql(
      s"SELECT ${Formulas.haversineSql("51.0", "3.0", "52.0", "3.0")} AS d").collect()(0).getDouble(0)
    assert(math.abs(d - 111195.0) < 100.0, s"got $d")
  }

  test("utm round-trip inverse within 1e-6 deg") {
    for (lat <- BigDecimal(-80.0) to BigDecimal(84.0) by 8.2;
         lon <- BigDecimal(-179.5) to BigDecimal(179.5) by 13.7) {
      val utm = Impls.gdcToUtm(lat.toDouble, lon.toDouble)
      val back = Impls.utmToGdc(utm(0), utm(1), utm(2).toInt, utm(3) > 0.5)
      assert(math.abs(back(0) - lat.toDouble) < 1e-6, s"lat $lat -> ${back(0)}")
      assert(math.abs(back(1) - lon.toDouble) < 1e-6, s"lon $lon -> ${back(1)}")
    }
  }

  test("utm known point: Brussels zone 31 north") {
    // E cross-checked by hand against the Snyder series:
    // E = 500000 + k0*N*(A + (1-T+C)A^3/6 + ...) ~ 500000 + 95158 - 2
    val utm = Impls.gdcToUtm(50.8503, 4.3517)
    assert(utm(2) == 31.0 && utm(3) == 1.0)
    assert(math.abs(utm(0) - 595151) < 50, s"easting ${utm(0)}")
    assert(math.abs(utm(1) - 5633600) < 1000, s"northing ${utm(1)}")
  }

  test("registered SQL functions evaluate inside codegen") {
    val row = spark.sql(
      "SELECT nmea_checksum('$GPZDA,160012.71,11,03,2004,-1,00') AS ck, " +
        "crc16_modbus('123456789') AS crc, signed_nbit(4095, 12) AS sn, " +
        "bcd_decode(37) AS bcd, lrc8('123456789') AS l, " +
        "rolling_hash('abc') AS rh").collect()(0)
    assert(row.getString(0) == "7D")
    assert(row.getInt(1) == 0x4b37)
    assert(row.getLong(2) == -1L)
    assert(row.getLong(3) == 25L)
    assert(row.getInt(4) == 0x23)
  }
}
