package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft._

/** Public Column API for the graft function library, and the same
  * functions by SQL name ([[sqlFunctions]]).
  *
  * Usage:
  * {{{
  *   import graft.functions.GraftFunctions._
  *   df.select(nmea_valid($"value"), salinity($"cond", $"temp", $"press"))
  *   // or, on a session with the graft dialect (EngineSession.create):
  *   spark.sql("SELECT crc16_modbus(value), salinity(c, t, p) FROM lines")
  * }}}
  */
object GraftFunctions {

  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  def nmea_checksum(s: Column): Column = c(NmeaChecksum(e(s)))
  def nmea_valid(s: Column): Column = c(NmeaValid(e(s)))
  def crc16_modbus(s: Column): Column = c(Crc16Modbus(e(s)))
  def lrc8(s: Column): Column = c(Lrc8(e(s)))
  def signed_nbit(v: Column, bits: Column): Column = c(SignedNBit(e(v), e(bits)))
  def bcd_decode(v: Column): Column = c(BcdDecode(e(v)))
  def bcd_encode(v: Column): Column = c(BcdEncode(e(v)))
  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))
  def rolling_hash(s: Column): Column = c(RollingHash(e(s)))
  def modbus_decode(frame: Column): Column = c(ModbusDecode(e(frame)))
  def shingles(toks: Column, n: Column): Column = c(Shingles(e(toks), e(n)))
  def vec_dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def vec_sqdist(a: Column, b: Column): Column = c(VecSqDist(e(a), e(b)))
  def znorm_dist(win: Column, pattern: Column): Column = c(ZNormDist(e(win), e(pattern)))
  def dtw_dist(a: Column, b: Column): Column = c(DtwDist(e(a), e(b)))
  def tokens_ws(text: Column): Column = c(TokensWs(e(text)))
  def count_in_set(toks: Column, set: Column): Column = c(CountInSet(e(toks), e(set)))
  def nfc_normalize(text: Column): Column = c(NfcNormalize(e(text)))
  def minhash_sig(shingles: Column, k: Column): Column = c(MinHashSig(e(shingles), e(k)))
  def jaro_winkler(a: Column, b: Column): Column = c(JaroWinkler(e(a), e(b)))

  /** Distributed bloom-filter build over xxhash64 of a column: map-side
    * partial sketches merge into one binary sketch (Catalyst's
    * BloomFilterAggregate, the engine's own runtime-filter sketch). The
    * result is O(numBits) bytes regardless of input size, so it is safe to
    * collect and inline as a literal for scan-side pre-filtering.
    */
  def bloom_agg(keyCol: Column, estItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val h = e(org.apache.spark.sql.functions.xxhash64(keyCol))
    c(new BloomFilterAggregate(h, Literal(estItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** Probe a collected bloom sketch: stays inside whole-stage codegen on
    * the probe-side scan (no join, no shuffle — the semi-join's network
    * cost collapses to a byte-array broadcast). False positives possible,
    * false negatives impossible.
    */
  def bloom_might_contain(sketch: Array[Byte], keyCol: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    c(BloomFilterMightContain(Literal(sketch),
      e(org.apache.spark.sql.functions.xxhash64(keyCol))))
  }

  /** Bind a shared-dialect formula fragment (Formulas.*Sql over placeholder
    * names) to concrete Columns: parse once, substitute attributes.
    */
  private def bind(fragment: String, names: Seq[String], cols: Seq[Column]): Column = {
    val spark = SparkSession.active
    val template = Bridge.parseExpression(spark, fragment)
    c(Bridge.substitute(template, names.zip(cols.map(e)).toMap))
  }

  /** PSS-78 practical salinity (cond mS/cm, temp °C, pressure dbar). */
  def salinity(cond: Column, temp: Column, press: Column): Column =
    bind(Formulas.salinitySql("__c", "__t", "__p"), Seq("__c", "__t", "__p"),
      Seq(cond, temp, press))

  /** UNESCO Chen&Millero sound velocity (sal PSU, temp °C, press dbar). */
  def sound_velocity(sal: Column, temp: Column, press: Column): Column =
    bind(Formulas.soundVelocitySql("__s", "__t", "__p"), Seq("__s", "__t", "__p"),
      Seq(sal, temp, press))

  def true_wind_speed(aws: Column, awd: Column, hdg: Column, sog: Column, cog: Column): Column =
    bind(Formulas.trueWindSpeedSql("__a", "__b", "__h", "__s", "__g"),
      Seq("__a", "__b", "__h", "__s", "__g"), Seq(aws, awd, hdg, sog, cog))

  def true_wind_dir(aws: Column, awd: Column, hdg: Column, sog: Column, cog: Column): Column =
    bind(Formulas.trueWindDirSql("__a", "__b", "__h", "__s", "__g"),
      Seq("__a", "__b", "__h", "__s", "__g"), Seq(aws, awd, hdg, sog, cog))

  def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    bind(Formulas.haversineSql("__a", "__b", "__c", "__d"),
      Seq("__a", "__b", "__c", "__d"), Seq(lat1, lon1, lat2, lon2))

  /** GDC -> UTM as a struct(easting, northing, zone, north). */
  def gdc_to_utm(lat: Column, lon: Column): Column = {
    val f = org.apache.spark.sql.functions.udf((la: Double, lo: Double) => {
      val r = Impls.gdcToUtm(la, lo)
      (r(0), r(1), r(2).toInt, r(3) > 0.5)
    })
    f(lat, lon).cast("struct<easting:double,northing:double,zone:int,north:boolean>")
  }

  /** UTM -> GDC as a struct(lat, lon). */
  def utm_to_gdc(easting: Column, northing: Column, zone: Column, north: Column): Column = {
    val f = org.apache.spark.sql.functions.udf(
      (ea: Double, no: Double, z: Int, n: Boolean) => {
        val r = Impls.utmToGdc(ea, no, z, n)
        (r(0), r(1))
      })
    f(easting, northing, zone, north).cast("struct<lat:double,lon:double>")
  }

  /** Every function by its SQL name, as [[org.apache.spark.sql.graft.GraftExtensions]]
    * injects it into each session it builds.
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def macroFn(name: String, arity: Int, render: Seq[String] => String) = {
      val names = (0 until arity).map(i => s"__arg$i")
      name -> ((args: Seq[Expression]) => {
        val template = Bridge.parseExpression(SparkSession.active, render(names))
        Bridge.substitute(template, names.zip(args).toMap)
      })
    }
    Seq[(String, Seq[Expression] => Expression)](
      "nmea_checksum" -> (a => NmeaChecksum(a.head)),
      "nmea_valid" -> (a => NmeaValid(a.head)),
      "crc16_modbus" -> (a => Crc16Modbus(a.head)),
      "lrc8" -> (a => Lrc8(a.head)),
      "signed_nbit" -> (a => SignedNBit(a(0), a(1))),
      "bcd_decode" -> (a => BcdDecode(a.head)),
      "bcd_encode" -> (a => BcdEncode(a.head)),
      "simhash64" -> (a => SimHash64(a.head)),
      "rolling_hash" -> (a => RollingHash(a.head)),
      "modbus_decode" -> (a => ModbusDecode(a.head)),
      "shingles" -> (a => Shingles(a(0), a(1))),
      "vec_dot" -> (a => VecDot(a(0), a(1))),
      "vec_sqdist" -> (a => VecSqDist(a(0), a(1))),
      "znorm_dist" -> (a => ZNormDist(a(0), a(1))),
      "dtw_dist" -> (a => DtwDist(a(0), a(1))),
      "tokens_ws" -> (a => TokensWs(a.head)),
      "count_in_set" -> (a => CountInSet(a(0), a(1))),
      "nfc_normalize" -> (a => NfcNormalize(a.head)),
      "minhash_sig" -> (a => MinHashSig(a(0), a(1))),
      "jaro_winkler" -> (a => JaroWinkler(a(0), a(1))),
      macroFn("salinity", 3, n => Formulas.salinitySql(n(0), n(1), n(2))),
      macroFn("sound_velocity", 3, n => Formulas.soundVelocitySql(n(0), n(1), n(2))),
      macroFn("true_wind_speed", 5, n => Formulas.trueWindSpeedSql(n(0), n(1), n(2), n(3), n(4))),
      macroFn("true_wind_dir", 5, n => Formulas.trueWindDirSql(n(0), n(1), n(2), n(3), n(4))),
      macroFn("haversine_m", 4, n => Formulas.haversineSql(n(0), n(1), n(2), n(3))))
  }
}
