package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks (SURVEY.md §2-B): normalization, tokens
  * and SQL literals.
  *
  * Everything is built from `org.apache.spark.sql.functions` + higher-order
  * array functions — codegen'd row-level expressions, no UDFs. Hashes are
  * md5 hex strings in BOTH engines (Spark md5 and DuckDB md5 produce the
  * same lowercase hex for the same bytes), and "minimum hash" means the
  * lexicographic minimum of those hex strings — deterministic and
  * engine-portable, no integer-conversion games. The char-shingle hash
  * arrays themselves are inlined in `DedupOps.dedupMinhash` /
  * `TextOps.fingerprint` (transform over a position sequence — dynamic
  * substring start needs the SQL expression form).
  */
object TextFuns {

  /** Canonical normalization applied before any hashing/tokenizing. */
  def norm(text: Column): Column = lower(trim(text))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(norm(text), " ")

  /** Single-quoted SQL string literal with `''` escaping — every oracle
    * that interpolates a Scala string constant (probes, marker words,
    * stopwords) goes through this, so a future constant containing a
    * quote (e.g. "don't") cannot produce malformed oracle SQL. */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"
}
