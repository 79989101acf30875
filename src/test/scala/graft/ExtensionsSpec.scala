package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-install path: GraftExtensions must register the engine's
  * SQL surface at session build with no Scala-side register call. The
  * `spark.sql.extensions=graft.GraftExtensions` string conf is read from
  * the SparkContext's static conf, which a shared test context can't
  * change after launch — so this exercises the same injection through
  * `builder.withExtensions` over a second session, then restores the
  * default session for the other suites. */
class ExtensionsSpec extends AnyFunSuite {
  test("GraftExtensions installs graft_dot at session build") {
    val base = SparkTestBase.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the extensions are the point of this session; the rest is the
      // shared config
      val s2 = Bench.sessionBuilder("4")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne base) // a genuinely new session, not the cached one
      val v = s2
        .sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(v === 11.0)
      // the hashing-trick kernel rides the same injection: one token →
      // exactly one ±1 cell, d cells total
      val emb = s2
        .sql("SELECT graft_hashed_embedding(array('hello'), 64) AS v")
        .head().getSeq[Double](0)
      assert(emb.length === 64 && emb.map(math.abs).sum === 1.0)
      // a non-literal dims must fail with a CLEAR message, not an
      // opaque ClassCastException out of eval(null)
      val bad = intercept[Exception] {
        s2.sql("SELECT graft_hashed_embedding(array('x'), 'not_a_number')")
          .collect()
      }
      assert(bad.getMessage.contains("graft_hashed_embedding") ||
        Option(bad.getCause)
          .exists(_.getMessage.contains("graft_hashed_embedding")))
      // byte entropy rides the injection too: 4 equiprobable bytes → ln 4
      val ent = s2
        .sql("SELECT graft_byte_entropy(CAST('abcd' AS BINARY)) AS e")
        .head().getDouble(0)
      assert(math.abs(ent - math.log(4.0)) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
