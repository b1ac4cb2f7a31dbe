package graft

import java.time.ZoneOffset

import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graftbridge.Bridge

import graft.datax.{Dedup, TextStats}
import graft.functions.DotProduct
import graft.ops.Enrich

/** SparkSessionExtensions entry point: registers the library's native
  * expression ([[graft.functions.DotProduct]]) plus the scalar operator
  * surface as SQL functions, so `spark.sql` users get the same
  * capabilities as the DataFrame API (`SELECT graft_quality(text) ...`).
  * Enable with `spark.sql.extensions=graft.GraftExtensions`. The
  * Column combinators are composed expression TREES (not UDFs): the
  * registered form plans and codegens identically to the DataFrame
  * form.
  *
  * It also checks the session contract on every analyzed plan: ANSI
  * off (the operators' null-on-malformed casts) and a session zone
  * that normalizes to UTC (the timestamp normalization of `Tables.load`
  * and `StreamOps.normalizeEventTime`). A session that breaks either
  * fails analysis with `INVALID_CONF_VALUE.REQUIREMENT`, naming the
  * setting and the value it needs. [[Sessions.local]] builds a session
  * that holds it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(ext: SparkSessionExtensions, name: String, arity: Int)
                    (f: Seq[Column] => Column): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name expects $arity argument(s)")
        Bridge.resolvedExpression(f(exprs.map(Bridge.column)))
      }))

  private def violation(key: String, value: String, needed: String) =
    new AnalysisException("INVALID_CONF_VALUE.REQUIREMENT", Map(
      "confName" -> key, "confValue" -> value,
      "confRequirement" -> s"graft.GraftExtensions requires $key=$needed."))

  private def checkContract(conf: SQLConf): Unit = {
    if (conf.ansiEnabled)
      throw violation(SQLConf.ANSI_ENABLED.key, "true", "false")
    val zone = conf.sessionLocalTimeZone
    if (DateTimeUtils.getZoneId(zone).normalized() != ZoneOffset.UTC)
      throw violation(SQLConf.SESSION_LOCAL_TIMEZONE.key, zone, "UTC")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectCheckRule(session => _ => checkContract(session.sessionState.conf))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    inject(ext, "graft_quality", 1)(a => TextStats.qualityScore(a.head))
    inject(ext, "graft_lang_id", 1)(a => TextStats.langId(a.head))
    inject(ext, "graft_fingerprint", 1)(a => TextStats.fingerprint(a.head))
    inject(ext, "graft_token_count", 1)(a => TextStats.tokenCountWs(a.head))
    inject(ext, "graft_split_name", 1)(a => TextStats.splitName(a.head))
    inject(ext, "graft_redact_pii", 1)(a => TextStats.redactPii(a.head))
    inject(ext, "graft_simhash", 1)(a => Dedup.simhash64(a.head))
    inject(ext, "graft_year", 1)(a => Enrich.extractYear(a.head))
    inject(ext, "graft_cosine", 2)(a => graft.datax.Similarity.cosine(a.head, a(1)))
  }
}
