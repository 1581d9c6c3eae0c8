package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Textformat

/** Golden-file + round-trip tests for the snapshot text serializer
 *  (textformat.rs parity: header, group ordering by keeper size desc,
 *  member ordering, all three action markers). */
class TextformatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def snapDF() = {
    import spark.implicits._
    Seq(
      // group A: two small files
      ("aa11", "r1/a.txt", 3L, "keep", null.asInstanceOf[String]),
      ("aa11", "r1/b.txt", 3L, "symlink", "r1/a.txt"),
      // group B: bigger files → must render first
      ("bb22", "r2/x.txt", 100L, "keep", null.asInstanceOf[String]),
      ("bb22", "r2/y.txt", 100L, "delete", null.asInstanceOf[String]),
      ("bb22", "r2/z.txt", 100L, "symlink", null.asInstanceOf[String]))
      .toDF("group_id", "rkey", "size", "action", "symlink_source")
  }

  private val golden = Seq(
    "#! rootdir: /corpus",
    "#! generated_at: Thu, 01 Jan 2026 00:00:00 +0000",
    "",
    "[bb22]",
    "keep r2/x.txt",
    "delete r2/y.txt",
    "symlink r2/z.txt",
    "",
    "[aa11]",
    "keep r1/a.txt",
    "symlink r1/b.txt -> r1/a.txt",
    "")

  test("render matches the golden snapshot (ordering + markers + header)") {
    val got = Textformat.render(snapDF(), "/corpus", "Thu, 01 Jan 2026 00:00:00 +0000")
    assert(got === golden)
  }

  test("parse round-trips render") {
    val (meta, rows) = Textformat.parse(golden)
    assert(meta === Map("rootdir" -> "/corpus",
      "generated_at" -> "Thu, 01 Jan 2026 00:00:00 +0000"))
    assert(rows === Seq(
      ("bb22", "r2/x.txt", "keep", None),
      ("bb22", "r2/y.txt", "delete", None),
      ("bb22", "r2/z.txt", "symlink", None),
      ("aa11", "r1/a.txt", "keep", None),
      ("aa11", "r1/b.txt", "symlink", Some("r1/a.txt"))))
  }

  test("parse rejects malformed input like the reference") {
    intercept[IllegalArgumentException] { Textformat.parse(Seq("keep orphan.txt")) }
    intercept[IllegalArgumentException] { Textformat.parse(Seq("[aa]", "symlink a -> b -> c")) }
    intercept[IllegalArgumentException] { Textformat.parse(Seq("???")) }
  }

  test("comments and blanks are ignored") {
    val (_, rows) = Textformat.parse(Seq("# a comment", "", "[ff]", "keep p"))
    assert(rows === Seq(("ff", "p", "keep", None)))
  }

  test("RFC2822 codec round-trips and matches chrono's rendering (textformat.rs:222, 279)") {
    val t = java.time.OffsetDateTime.of(2003, 7, 1, 10, 52, 37, 0,
      java.time.ZoneOffset.ofHours(2))
    // chrono to_rfc2822: unpadded day, numeric offset
    assert(Textformat.formatRfc2822(t) === "Tue, 1 Jul 2003 10:52:37 +0200")
    assert(Textformat.parseRfc2822("Tue, 1 Jul 2003 10:52:37 +0200") === t)
    // zero-padded day (also legal RFC2822) parses too
    assert(Textformat.parseRfc2822("Thu, 01 Jan 2026 00:00:00 +0000").getYear === 2026)
    // round-trip through render/parse
    val zero = java.time.OffsetDateTime.of(2026, 1, 1, 0, 0, 0, 0, java.time.ZoneOffset.UTC)
    val lines = Textformat.render(snapDF(), "/corpus", Textformat.formatRfc2822(zero))
    val (meta, _) = Textformat.parse(lines)
    assert(Textformat.parseRfc2822(meta("generated_at")) === zero)
  }

  test("parse rejects a malformed generated_at timestamp (textformat.rs:279)") {
    intercept[java.time.format.DateTimeParseException] {
      Textformat.parse(Seq("#! generated_at: not-a-date"))
    }
  }

  test("renderTable (distributed) matches the driver render line-for-line") {
    val df = Textformat.renderTable(snapDF(), "/corpus", "Thu, 01 Jan 2026 00:00:00 +0000")
    val got = df.orderBy("line_no").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).toSeq === (1L to golden.length.toLong))
    assert(got.map(_._2).toSeq === golden)
  }

  test("parseTable (distributed) recovers the snapshot rows from renderTable lines") {
    val lines = Textformat.renderTable(snapDF(), "/corpus", "Thu, 01 Jan 2026 00:00:00 +0000")
    val rows = Textformat.parseTable(lines).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3)))).toSet
    assert(rows === Set(
      ("bb22", "r2/x.txt", "keep", None),
      ("bb22", "r2/y.txt", "delete", None),
      ("bb22", "r2/z.txt", "symlink", None),
      ("aa11", "r1/a.txt", "keep", None),
      ("aa11", "r1/b.txt", "symlink", Some("r1/a.txt"))))
  }

  test("an uppercase-hex header parses to the lowercase group id (parse and parseTable)") {
    import spark.implicits._
    val lines = Seq("[AbCDEf09]", "keep p", "[abcdef09]", "symlink q -> p")
    val want = Seq(("abcdef09", "p", "keep", None), ("abcdef09", "q", "symlink", Some("p")))
    assert(Textformat.parse(lines)._2 === want)
    val got = Textformat.parseTable(
        lines.zipWithIndex.map { case (l, i) => (i.toLong + 1, l) }.toDF("line_no", "line"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3))))
      .toSeq.sortBy(_._2)
    assert(got === want)
  }

  test("parseTable rejects malformed input like the driver parse (F7)") {
    import spark.implicits._
    def run(ls: Seq[String]) = Textformat.parseTable(
      ls.zipWithIndex.map { case (l, i) => (i.toLong + 1, l) }.toDF("line_no", "line")).collect()
    intercept[Exception] { run(Seq("keep orphan.txt")) }              // path before any hash
    intercept[Exception] { run(Seq("[aa]", "symlink a -> b -> c")) }  // chained source
    intercept[Exception] { run(Seq("???")) }                          // unparseable shape
    intercept[Exception] { run(Seq("#! generated_at: not-a-date")) }  // malformed timestamp
    // well-formed control: no throw, one row
    assert(run(Seq("# c", "", "[ff]", "keep p")).length === 1)
  }

  test("renderTable rejects a malformed generated_at up front (F4)") {
    intercept[java.time.format.DateTimeParseException] {
      Textformat.renderTable(snapDF(), "/corpus", "not-a-date")
    }
  }

  test("human-readable byte sizes (F8)") {
    assert(Textformat.humanBytes(0L) === "0 B")
    assert(Textformat.humanBytes(1023L) === "1023 B")
    assert(Textformat.humanBytes(1024L) === "1.00 KiB")
    assert(Textformat.humanBytes(1536L) === "1.50 KiB")
    assert(Textformat.humanBytes(5L * 1024 * 1024 * 1024) === "5.00 GiB")
  }
}
