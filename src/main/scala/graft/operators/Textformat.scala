package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.HexCase

/**
 * The reference's snapshot *text format* (textformat.rs): the human-editable
 * wire form of a snapshot —
 *
 * {{{
 * #! rootdir: <path>
 * #! generated_at: <RFC2822>
 *
 * [<group hash>]
 * keep <path>
 * symlink <path> [-> <source>]
 * delete <path>
 * }}}
 *
 * Groups are ordered by keeper size descending (textformat.rs:185-199 —
 * "prioritize big wins", CHANGELOG.md:7-10), members lexicographically
 * (snapshot/mod.rs:49-53 Ord). One codec renders and parses it:
 * [[renderTable]] and [[parseTable]], as `(line_no, line)` DataFrames
 * (q33/q34). The canonical engine sink is the snapshot *table*; the text
 * form serves human review of small snapshots.
 */
object Textformat {

  /** Metadata line `#! k: v` (textformat.rs:28-49). */
  private def meta(k: String, v: String) = s"#! $k: $v"

  /** F4 — RFC2822 timestamp codec (textformat.rs:222 `to_rfc2822`,
   *  textformat.rs:279 `parse_from_rfc2822`): chrono renders e.g.
   *  `Tue, 1 Jul 2003 10:52:37 +0200` — day unpadded, numeric offset
   *  (never `GMT`), English names. */
  private val Rfc2822 = java.time.format.DateTimeFormatter
    .ofPattern("EEE, d MMM yyyy HH:mm:ss Z", java.util.Locale.US)

  def formatRfc2822(t: java.time.OffsetDateTime): String = t.format(Rfc2822)

  /** Parse-or-throw (the reference's parse fails on a bad timestamp). */
  def parseRfc2822(s: String): java.time.OffsetDateTime =
    java.time.OffsetDateTime.parse(s, Rfc2822)

  /**
   * Render a snapshot DataFrame (`group_id, rkey, size, action,
   * symlink_source`) to text lines as a DataFrame of `(line_no: Long,
   * line: String)`, computed with window functions instead of a driver
   * collect — group rank by keeper size descending (O1; group id breaks
   * ties, which the reference's HashMap order leaves arbitrary), member rank
   * by key (O2), line offsets as a prefix sum over group blocks.
   * `generatedAt` is injected for deterministic goldens (the reference
   * stamps now(), snapshot/mod.rs:141-145).
   *
   * The text file is inherently a single sequential artifact (the reference's
   * human-editable snapshot), so the two global windows here are single-
   * partition BY CONTRACT — this sink renders *reports*, not the corpus; at
   * corpus scale the canonical sink is the snapshot table / catalog version.
   * What the DataFrame form buys is (a) no driver materialization of the
   * member rows (only the final lines ever reach a collect, if the caller
   * collects at all) and (b) a DuckDB-oracleable query surface for the codec.
   */
  def renderTable(snapshot: DataFrame, rootdir: String, generatedAt: String): DataFrame = {
    parseRfc2822(generatedAt) // F4 enforced on the way in, as the reference does
    val spark = snapshot.sparkSession
    import spark.implicits._

    val m = snapshot.select("group_id", "rkey", "size", "action", "symlink_source")
    // One block per group: hash line + members + trailing blank. Offsets are
    // a running sum over the O1 order (keeper size desc, group id tiebreak).
    val groups = m.groupBy("group_id")
      .agg(min(col("size")).as("gsize"), count(lit(1)).as("n"))
    val o1 = Window.orderBy(col("gsize").desc, col("group_id"))
    val gOff = groups.withColumn("offset",
      lit(3L) + coalesce(
        sum(col("n") + lit(2L)).over(o1.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))

    val header = Seq(
      (1L, meta("rootdir", rootdir)),
      (2L, meta("generated_at", generatedAt)),
      (3L, "")).toDF("line_no", "line")
    val hashLines = gOff.select(
      (col("offset") + 1).as("line_no"),
      concat(lit("["), col("group_id"), lit("]")).as("line"))
    val blankLines = gOff.select(
      (col("offset") + col("n") + 2).as("line_no"), lit("").as("line"))
    val o2 = Window.partitionBy("group_id").orderBy("rkey")
    val memberLines = m.withColumn("rn", row_number().over(o2))
      .join(gOff.select("group_id", "offset"), Seq("group_id"))
      .select(
        (col("offset") + 1 + col("rn")).as("line_no"),
        when(col("action") === "keep", concat(lit("keep "), col("rkey")))
          .when(col("action") === "delete", concat(lit("delete "), col("rkey")))
          .when(col("symlink_source").isNotNull && length(col("symlink_source")) > 0,
            concat(lit("symlink "), col("rkey"), lit(" -> "), col("symlink_source")))
          .otherwise(concat(lit("symlink "), col("rkey"))).as("line"))

    header.union(hashLines).union(memberLines).union(blankLines)
  }

  private val MetaReStr = """^#!\s*([a-z_]+):\s*(.*)$"""
  private val isRfc2822 = udf((v: String) => scala.util.Try(parseRfc2822(v)).isSuccess)
  private val PathReStr = """^(keep|symlink|delete)\s+(.+?)(?:\s+->\s+(.+))?$"""

  /**
   * Parse `(line_no, line)` rows back to snapshot rows `(group_id, rkey,
   * action, symlink_source)` (F7; metadata lines are checked, not
   * returned): each
   * line classifies independently; a path row's group hash is the LAST hash
   * line at a smaller line number (a running `last(..., ignoreNulls)` window
   * — the one inherently sequential dependency of the format). The
   * reference's rejections (textformat.rs:51-146, 423-500) fire as
   * `raise_error`: unparseable line shapes, a `generated_at` that is not
   * RFC2822, a path row before any checksum, and the `a -> b -> c`
   * chained-source form. Same single-sequential-file
   * contract as [[renderTable]].
   */
  def parseTable(lines: DataFrame): DataFrame = {
    val w = Window.orderBy("line_no").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val op = regexp_extract(col("line"), PathReStr, 1)
    val classified = lines
      .withColumn("kind",
        when(trim(col("line")) === "", "blank")
          .when(col("line").rlike("""^#!\s*[a-z_]+:"""),
            when(regexp_extract(col("line"), MetaReStr, 1) === "generated_at" &&
              !isRfc2822(regexp_extract(col("line"), MetaReStr, 2)),
              raise_error(concat(lit("malformed generated_at: "), col("line"))))
              .otherwise(lit("meta")))
          .when(col("line").startsWith("#"), "comment")
          .when(col("line").rlike("""^\[[0-9a-fA-F]+\]$"""), "hash")
          .when(op =!= "", "path")
          .otherwise(raise_error(concat(lit("unparseable line: "), col("line")))))
      .withColumn("gid",
        last(when(col("kind") === "hash",
          HexCase.lower(regexp_extract(col("line"), """^\[([0-9a-fA-F]+)\]$""", 1))),
          ignoreNulls = true).over(w))
    classified.where(col("kind") === "path")
      .select(
        when(col("gid").isNull,
          raise_error(concat(lit("path line before any checksum: "), col("line"))))
          .otherwise(col("gid")).as("group_id"),
        regexp_extract(col("line"), PathReStr, 2).as("rkey"),
        op.as("action"),
        when(regexp_extract(col("line"), PathReStr, 3) === "", lit(null))
          .when(regexp_extract(col("line"), PathReStr, 3).contains(" -> "),
            raise_error(concat(lit("malformed symlink source: "), col("line"))))
          .otherwise(regexp_extract(col("line"), PathReStr, 3)).as("symlink_source"))
  }
}
