package graft

import org.scalatest.funsuite.AnyFunSuite

class RuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("PowToMultiply rewrites pow(x, small int) to a multiply chain") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .selectExpr("l_quantity AS x", "pow(l_quantity, 2) AS p2",
        "pow(l_quantity, 3) AS p3", "pow(l_quantity, 2.5) AS pfrac")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("POWER(l_quantity#"), // integral pows rewritten
      s"pow(x,2) not rewritten:\n$optimized")
    assert(optimized.contains("2.5"), // fractional exponent untouched
      s"pow(x,2.5) must NOT be rewritten:\n$optimized")
    df.limit(50).collect().foreach { r =>
      val x = r.getDouble(0)
      assert(r.getDouble(1) == x * x)
      assert(r.getDouble(2) == x * x * x)
      // Spark's Pow uses StrictMath; the JVM intrinsic can differ 1 ulp
      assert(math.abs(r.getDouble(3) - math.pow(x, 2.5))
        <= math.ulp(r.getDouble(3)))
    }
    // MathDsl's ^ sugar goes through this path
    val v = Seq(Seq("5.0")).toDF("__f")
      .selectExpr(s"${graft.operators.MathDsl.compile("i0^2")} AS v")
    assert(v.collect()(0).getDouble(0) == 25.0)
  }
}
