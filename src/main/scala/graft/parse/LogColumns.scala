package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.model.QueryPattern

/** Column-expression library replicating the reference's hand-rolled
  * find/slice parsers (SURVEY.md §2.3) with native, codegen-friendly
  * Catalyst expressions. Positional `locate`/`substring` arithmetic is
  * used instead of regex so the byte-exact slicing semantics of the
  * reference survive (e.g. the query text keeps its trailing `;`).
  *
  * All positions are 1-based (Spark `locate`); the reference's 0-based
  * pointer arithmetic (analyze_slow_queries.py:939-983) is translated
  * index-by-index in [[lex]]. Classification, table extraction,
  * keyspace and primary key resolve in the fused [[EnrichSlowQuery]]
  * node through [[SlowQueryCatalog]]'s kernels.
  */
object LogColumns {

  /** substring(str, pos) to end-of-string with a Column position. */
  private def substring_pos(c: Column, pos: Column): Column =
    c.substr(pos, length(c) - pos + 1)

  /** F2 — the slow-query log-line lexer (analyze_slow_queries.py:939-983)
    * as a single custom Catalyst expression (see [[LexSlowQuery]] for
    * why). Null when the line is not a parseable slow-query log.
    *
    * Struct fields: duration_str, duration (long, null = int() raise),
    * counts, bound_values, query (trailing ';' retained).
    */
  def lex(msg: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(LexSlowQuery(ColumnBridge.expression(msg.cast("string"))))
  }

  /** Fixed-format Kibana timestamp parse (see [[KibanaTimestamp]]):
    * the general DateTimeFormatter dominated the whole parse path.
    */
  def kibanaTimestamp(c: Column): Column = KibanaTimestamp.parse(c)

  /** F3 — bound-values string -> entries array, preserving order.
    * Reference semantics (analyze_slow_queries.py:454-476): strip ALL
    * '[' and ']' chars, split on ',', split each fragment on the FIRST
    * ':', trim spaces from the key, strip ALL leading/trailing single
    * quotes from the value; fragments without ':' are dropped.
    */
  def boundValueEntries(bv: Column): Column = {
    val cleaned = translate(bv, "[]", "")
    val frags = split(cleaned, ",")
    val entries = transform(frags, f => {
      val idx = instr(f, ":")
      val key = trim(f.substr(lit(1), idx - 1), " ")
      val value = regexp_replace(substring_pos(f, idx + 1), "^'+|'+$", "")
      when(idx > 0, struct(key.as("key"), value.as("value")))
    })
    filter(entries, e => e.isNotNull)
  }

  /** F3 as a map; duplicate keys keep the last value (Python dict
    * semantics — requires spark.sql.mapKeyDedupPolicy=LAST_WIN, set by
    * [[graft.GraftSession.tune]]).
    */
  def boundValuesMap(bv: Column): Column =
    when(bv.isNotNull, map_from_entries(boundValueEntries(bv)))

  /** F8 — pattern normalization for queries without bound markers
    * (analyze_slow_queries.py:842-889). Genuinely imperative — the
    * query string mutates between parameters and the extracted value is
    * replaced at EVERY occurrence — so this is the one Scala UDF in the
    * parse path (SURVEY.md §2.11). Returns struct(query, entries).
    */
  def normalizePatterns(patterns: Seq[QueryPattern]): UserDefinedFunction =
    udf { (query: String) =>
      if (query == null) null
      else patterns.find(p => query.startsWith(p.start)) match {
        case None => (query, Map.empty[String, String])
        case Some(p) =>
          // shared kernel — see SlowQueryCatalog.normalize
          val (q, bv) = SlowQueryCatalog.normalize(query, p)
          (q, bv.toMap)
      }
    }
}
