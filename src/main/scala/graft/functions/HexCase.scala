package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.translate

/** Case change for hex digests (sha256 group ids): an ASCII `translate` of
 *  `a-f`, which on `[0-9a-fA-F]` gives the same bytes as `upper`/`lower`.
 *  Spark's `upper`/`lower` run through ICU case mapping
 *  (`spark.sql.icu.caseMappings.enabled`), and their first evaluation in a
 *  JVM pays a ~2 s static initialiser of `CollationAwareUTF8String`; a
 *  one-shot review command would wait for it. Only for hex: arbitrary text
 *  keeps `upper`/`lower` and their Unicode semantics. */
object HexCase {
  def upper(hex: Column): Column = translate(hex, "abcdef", "ABCDEF")
  def lower(hex: Column): Column = translate(hex, "ABCDEF", "abcdef")
}
