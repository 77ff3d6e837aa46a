package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** The deployment path for the custom expression library: the
  * `spark.sql.extensions=graft.GraftExtensions` installer, and SQL-text
  * resolution of the injected functions.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("GraftExtensions applies cleanly to a fresh SparkSessionExtensions") {
    // reflective zero-arg instantiation — exactly what the
    // spark.sql.extensions conf does at session build
    val installer = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    installer(new SparkSessionExtensions)
  }

  test("SQL text resolves every custom function") {
    graft.functions.HashFunctions.ensure(spark)
    graft.functions.VecFunctions.ensure(spark)
    val r = spark.sql(
      """SELECT poly_hash('abc') AS h,
        |       size(min_hash_sig('a b c d', 64, 3)) AS k,
        |       sim_hash64('a b c d') AS sh,
        |       size(shingle_hashes('a b c d', 3)) AS ns,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d
        |""".stripMargin).head()
    assert(r.getLong(0) == graft.functions.TextHash.polyHash("abc"))
    assert(r.getInt(1) == 64)
    assert(r.getInt(3) == 2)
    assert(r.getDouble(4) == 11.0)
  }
}
