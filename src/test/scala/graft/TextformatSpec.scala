package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.{Snapshots, Textformat}

/** Golden-file + round-trip tests for the snapshot text codec,
 *  `renderTable`/`parseTable` (textformat.rs parity: header, group ordering
 *  by keeper size desc, member ordering, all three action markers). */
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

  private def lineDF(ls: Seq[String]) = {
    import spark.implicits._
    ls.zipWithIndex.map { case (l, i) => (i.toLong + 1, l) }.toDF("line_no", "line")
  }

  private def parsed(ls: Seq[String]) =
    Textformat.parseTable(lineDF(ls)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3)))).toSeq

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
    val df = Textformat.renderTable(snapDF(), "/corpus", "Thu, 01 Jan 2026 00:00:00 +0000")
    val got = df.orderBy("line_no").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).toSeq === (1L to golden.length.toLong))
    assert(got.map(_._2).toSeq === golden)
  }

  test("renderTable (distributed) matches the driver render line-for-line") {
    // The golden lines are what the reference's single-process render writes;
    // spreading the snapshot over several partitions must not change a line
    // or its number.
    val df = Textformat.renderTable(snapDF().repartition(3), "/corpus",
      "Thu, 01 Jan 2026 00:00:00 +0000")
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === golden.zipWithIndex.map { case (l, i) => (i.toLong + 1, l) })
  }

  test("parse round-trips render") {
    // render → parse → render again: the parsed rows, with each file's size
    // joined back, re-render to the same lines.
    val stamp = "Thu, 01 Jan 2026 00:00:00 +0000"
    val rows = Textformat.parseTable(Textformat.renderTable(snapDF(), "/corpus", stamp))
      .join(snapDF().select("rkey", "size"), "rkey")
    val again = Textformat.renderTable(rows, "/corpus", stamp)
      .orderBy("line_no").collect().map(_.getString(1)).toSeq
    assert(again === golden)
  }

  test("parse rejects malformed input like the reference") {
    def rejects(ls: Seq[String], why: String) = {
      val e = intercept[Exception] { parsed(ls) }
      assert(e.getMessage.contains(why), e.getMessage)
    }
    rejects(Seq("keep orphan.txt"), "path line before any checksum")
    rejects(Seq("[aa]", "symlink a -> b -> c"), "malformed symlink source")
    rejects(Seq("???"), "unparseable line")
  }

  test("comments and blanks are ignored") {
    assert(parsed(Seq("# a comment", "", "[ff]", "keep p")) === Seq(("ff", "p", "keep", None)))
  }

  test("RFC2822 codec round-trips and matches chrono's rendering (textformat.rs:222, 279)") {
    val t = java.time.OffsetDateTime.of(2003, 7, 1, 10, 52, 37, 0,
      java.time.ZoneOffset.ofHours(2))
    // chrono to_rfc2822: unpadded day, numeric offset
    assert(Textformat.formatRfc2822(t) === "Tue, 1 Jul 2003 10:52:37 +0200")
    assert(Textformat.parseRfc2822("Tue, 1 Jul 2003 10:52:37 +0200") === t)
    // zero-padded day (also legal RFC2822) parses too
    assert(Textformat.parseRfc2822("Thu, 01 Jan 2026 00:00:00 +0000").getYear === 2026)
    // round-trip through the rendered header: line 2 carries generated_at
    val zero = java.time.OffsetDateTime.of(2026, 1, 1, 0, 0, 0, 0, java.time.ZoneOffset.UTC)
    val line2 = Textformat.renderTable(snapDF(), "/corpus", Textformat.formatRfc2822(zero))
      .where(col("line_no") === 2L).select("line").head().getString(0)
    assert(line2.startsWith("#! generated_at: "))
    assert(Textformat.parseRfc2822(line2.stripPrefix("#! generated_at: ")) === zero)
  }

  test("parse rejects a malformed generated_at timestamp (textformat.rs:279)") {
    val e = intercept[Exception] { parsed(Seq("#! generated_at: not-a-date")) }
    assert(e.getMessage.contains("malformed generated_at"), e.getMessage)
    // well-formed control: the same shape with an RFC2822 stamp parses
    assert(parsed(Seq("#! generated_at: Thu, 01 Jan 2026 00:00:00 +0000", "[ff]", "keep p"))
      === Seq(("ff", "p", "keep", None)))
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

  test("an uppercase-hex header parses to the lowercase group id") {
    val lines = Seq("[AbCDEf09]", "keep p", "[abcdef09]", "symlink q -> p")
    assert(parsed(lines).sortBy(_._2) ===
      Seq(("abcdef09", "p", "keep", None), ("abcdef09", "q", "symlink", Some("p"))))
  }

  test("parseTable rejects malformed input like the driver parse (F7)") {
    // The reference parses the whole file and fails on the first bad line, so
    // a bad line after well-formed groups must fail the table too.
    val good = Seq("#! rootdir: /corpus", "# c", "", "[ff]", "keep p", "", "[ee]", "keep q")
    def rejects(bad: String, why: String) = {
      val e = intercept[Exception] { parsed(good :+ bad) }
      assert(e.getMessage.contains(why), e.getMessage)
    }
    rejects("symlink a -> b -> c", "malformed symlink source")
    rejects("???", "unparseable line")
    rejects("#! generated_at: not-a-date", "malformed generated_at")
    // well-formed control: no throw, one row per path line
    assert(parsed(good) === Seq(("ff", "p", "keep", None), ("ee", "q", "keep", None)))
  }

  test("renderTable rejects a malformed generated_at up front (F4)") {
    intercept[java.time.format.DateTimeParseException] {
      Textformat.renderTable(snapDF(), "/corpus", "not-a-date")
    }
  }

  test("human-readable byte sizes (F8)") {
    // The snapshot's size column renderer (q16): binary tiers, two decimals,
    // truncated, so 1535 B is "1.49 KiB" where rounding would print "1.50 KiB".
    import spark.implicits._
    val got = Seq(0L, 1023L, 1024L, 1535L, 5L * 1024 * 1024 * 1024).toDF("b")
      .select(Snapshots.humanBytes(col("b"))).as[String].collect().toSeq
    assert(got === Seq("0 B", "1023 B", "1.00 KiB", "1.49 KiB", "5.00 GiB"))
  }
}
