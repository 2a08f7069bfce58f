package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Predicate builders from SURVEY §2.2 — the reference's query-socket
  * filter surface (P1-P10) as composable `Column`s. All are plain Catalyst
  * expressions, so they push down to the parquet scan where possible.
  */
object FilterOps {

  /** P2 — IN-list. */
  def inList[T](c: Column, values: Seq[T]): Column = c.isin(values: _*)

  /** P3 — inclusive datetime range (`record_socket.py:281-288`).
    * Either bound optional. */
  def dateRange(c: Column, after: Option[String], before: Option[String]): Column = {
    val lo = after.map(a => c >= lit(a).cast("timestamp"))
    val hi = before.map(b => c <= lit(b).cast("timestamp"))
    (lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** P4/P5 — JSON key-value containment over a JSON string column:
    * AND over required (key, value) pairs, mirroring JSONB `@>`
    * (`singlepoint/record_socket.py:355-359`, `molecules/socket.py:257-262`). */
  def jsonContains(jsonCol: Column, required: Map[String, String]): Column =
    required.map { case (k, v) => get_json_object(jsonCol, s"$$.$k") === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** P4/P5 — the reference ORs the containment test across the requested
    * dicts (each dict internally ANDed): a record matches if ANY requested
    * keyword/identifier dict is contained
    * (`singlepoint/record_socket.py:355-359` builds `or_(*kw_filters)`). */
  def jsonContainsAny(jsonCol: Column, anyOf: Seq[Map[String, String]]): Column =
    anyOf.map(jsonContains(jsonCol, _)).reduceOption(_ || _).getOrElse(lit(true))

  /** P4/P5 at scale — parse ONCE, probe many: `get_json_object` re-parses
    * the document per (key, value) probe, so a filter with k probes pays
    * k full JSON parses per row. [[jsonParsed]] extracts every requested
    * key in one `from_json` pass; [[parsedContains]]/[[parsedContainsAny]]
    * are then plain string predicates over the parsed struct — same
    * match semantics for string-valued keys (both forms yield the value
    * or NULL when the key is absent/malformed). */
  def jsonParsed(jsonCol: Column, keys: Seq[String]): Column = {
    val schema = keys.map(k => s"`$k` STRING").mkString(", ")
    from_json(jsonCol, org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** AND over required pairs against a [[jsonParsed]] struct. */
  def parsedContains(parsed: Column, required: Map[String, String]): Column =
    required.map { case (k, v) => parsed.getField(k) === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** OR across requested dicts against a [[jsonParsed]] struct. */
  def parsedContainsAny(parsed: Column, anyOf: Seq[Map[String, String]]): Column =
    anyOf.map(parsedContains(parsed, _)).reduceOption(_ || _).getOrElse(lit(true))

  /** P6 — array subset: `programs ?& keys` (column has ALL of `keys`)
    * (`managers/socket.py:308-319`). */
  def hasAll(arrCol: Column, keys: Seq[String]): Column =
    size(array_except(array(keys.map(lit): _*), arrCol)) === 0

  /** P6 — array overlap: `compute_tags && tags`. */
  def overlaps(arrCol: Column, tags: Seq[String]): Column =
    arrays_overlap(arrCol, array(tags.map(lit): _*))

  /** P7 — tuple-IN over multiple columns via OR-of-ANDs (null-safe like the
    * reference's fallback, `db_socket/helpers.py:257-293`). For large tuple
    * sets use [[tupleInJoin]] — a literal OR-chain grows the plan linearly
    * in |tuples|. */
  def tupleIn(cols: Seq[Column], tuples: Seq[Seq[Any]]): Column =
    tuples.map { t =>
      cols.zip(t).map { case (c, v) =>
        if (v == null) c.isNull else c <=> lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** P7 scale form: tuple-IN as a left-semi join against a tuples frame
    * (null-safe equality, so NULL components match like the reference's
    * OR-of-ANDs fallback). The tuples frame's columns must be named after
    * the target columns. */
  def tupleInJoin(df: DataFrame, cols: Seq[String], tuples: DataFrame): DataFrame = {
    val cond = cols.map(c => df(c) <=> tuples(c)).reduce(_ && _)
    df.join(broadcast(tuples), cond, "left_semi")
  }
}
