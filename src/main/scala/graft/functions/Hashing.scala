package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Canonical-hash helpers mirroring the reference's dedup keys.
  *
  * The reference dedups specifications by a sha256 of a canonical
  * sorted-key JSON dump (`qcportal/qcportal/utils.py:383-385`,
  * `qcfractal/components/singlepoint/record_socket.py:247-270`) and
  * molecules by a sha1 over canonical fields
  * (`qcfractal/components/molecules/db_models.py:26,100-112`).
  *
  * We canonicalize with an explicit field order joined on a unit separator
  * (0x1f) instead of JSON so the hashed bytes are engine-independent
  * (Spark's `to_json` and other engines' JSON writers disagree on float
  * formatting and key ordering). Callers pass columns in canonical order.
  * All of these are codegen'd built-ins — no UDFs in the hot path.
  */
object Hashing {
  private val SEP = "\u001f"

  /** sha256 hex of fields joined in declared canonical order (SURVEY F7). */
  def canonicalHash256(cols: Column*): Column = sha2(concat_ws(SEP, cols: _*), 256)

  /** sha1 hex (SURVEY F8) — molecule-hash analogue. */
  def canonicalHash1(cols: Column*): Column = sha1(concat_ws(SEP, cols: _*))

  /** md5 hex — cheap content fingerprint for exact dedup. */
  def md5Hash(cols: Column*): Column = md5(concat_ws(SEP, cols: _*))

  /** F7 with REFERENCE PARITY for flat string dicts: sha256 of the
    * Python-`json.dumps(d, sort_keys=True)` rendering of a
    * Map[String,String] column — sorted keys, `", "` / `": "` separators
    * (`qcportal/qcportal/utils.py:383-385` `hash_dict`). A spec stored by
    * QCFractal and re-hashed here produces the same digest, so dedup keys
    * survive a migration. Scope: flat dicts with string keys/values and no
    * characters needing JSON escaping (the reference's spec fields —
    * program/driver/method/basis — are lowercase identifiers); nested or
    * escape-needing dicts fall back to [[canonicalHash256]]. */
  def pyJsonHash256(m: Column): Column = {
    val entries = array_sort(map_entries(m)) // struct(key,value) sorts by key
    val body = concat_ws(", ", transform(entries, e =>
      concat(lit("\""), e.getField("key"), lit("\": \""),
        e.getField("value"), lit("\""))))
    sha2(concat(lit("{"), body, lit("}")), 256)
  }

  /** F7 FULL reference parity: `hash_dict` of an arbitrary nested JSON
    * document — sha256 over the CPython
    * `json.dumps(d, ensure_ascii=True, sort_keys=True)` byte rendering
    * (`qcportal/qcportal/utils.py:383-385`), reproduced by
    * [[PyCanonicalJson]] (floats as Python `repr`, exact bigints, ascii
    * escapes, sorted keys). Unlike [[pyJsonHash256]] this handles nested
    * dicts, lists, ints, floats, bools, null, and escape-needing strings;
    * parity is pinned against the reference's own 695 fixture digests in
    * `PyJsonSpec`. Null on malformed JSON. */
  def pyDictHash256(json: Column): Column = sha2(PyCanonicalJson(json), 256)
}
