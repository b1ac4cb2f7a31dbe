package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the driver-facing registries. */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("query names are unique (Map construction would silently drop dups)") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SQL function surface: the operator library works from spark.sql") {
    val r = spark.sql("""SELECT
        graft_quality('the cat is in the house and it is warm today') AS q,
        graft_lang_id('der hund ist nicht in das haus') AS lang,
        graft_fingerprint('A  B') = graft_fingerprint('a b') AS fp_eq,
        graft_token_count('one two  three') AS toks,
        graft_split_name(42) AS split,
        graft_redact_pii('mail a@b.co now') AS red,
        graft_year('1999-03-31') AS y,
        graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos""").head()
    assert(r.getDouble(0) > 0 && r.getDouble(0) <= 1.0)
    assert(r.getString(1) == "de")
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 3)
    assert(Set("train", "valid", "test")(r.getString(4)))
    assert(r.getString(5) == "mail [EMAIL] now")
    assert(r.getInt(6) == 1999)
    assert(math.abs(r.getDouble(7) - 1.0) < 1e-12)
    // simhash: identical inputs -> identical fingerprints
    val sh = spark.sql(
      "SELECT graft_simhash('a b c') = graft_simhash('a b c')").head()
    assert(sh.getBoolean(0))
  }

  test("session contract: GraftExtensions fails analysis unless ANSI is off and the zone is UTC") {
    def withConf(key: String, value: String) = {
      val s = spark.newSession()
      s.conf.set(key, value)
      s
    }
    def violation(key: String, value: String, needed: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        withConf(key, value).sql("SELECT 1")
      }
      assert(e.getCondition == "INVALID_CONF_VALUE.REQUIREMENT", e.getMessage)
      assert(e.getMessage.contains(s"requires $key=$needed"), e.getMessage)
    }
    violation("spark.sql.ansi.enabled", "true", "false")
    violation("spark.sql.session.timeZone", "America/New_York", "UTC")
    violation("spark.sql.session.timeZone", "Europe/London", "UTC")
    for (zone <- Seq("UTC", "Etc/UTC", "GMT"))
      withConf("spark.sql.session.timeZone", zone).sql("SELECT 1")
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))").head()
    assert(math.abs(cos.getDouble(0) - 1.0) < 1e-12)
  }
}
