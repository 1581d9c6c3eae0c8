package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.operators.ExactDedup

/** Exact-dedup stage vs an in-process reimplementation of the reference
 *  semantics (scan → hash-group → confirm → keeper election,
 *  scanner.rs:140-157 + snapshot/mod.rs:84-91), plus the per-row sha256
 *  invariant of BASELINE.json input_hint (hash.rs:15-19 semantics). */
class ExactDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString  // lowercase hex = hash.rs:18 `{result:x}`
  }

  private lazy val corpus = Corpus.synthetic(spark, 500, seed = 1L).cache()
  private lazy val local = corpus.collect()

  test("per-row sha256 equality vs reference semantics (hash.rs:15-19)") {
    val got = ExactDedup.withHashes(corpus.toDF())
      .select("rkey", "group_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    local.foreach { f =>
      assert(got(s"${f.repo}/${f.path}") === sha256Hex(f.content))
    }
  }

  test("duplicate groups match the in-process reference oracle") {
    // Reference oracle: group by full-content hash, retain groups of size > 1
    // (scanner.rs:108-138 with sha256 as the authoritative id, SURVEY §2.3 A4).
    val oracle = local.groupBy(f => sha256Hex(f.content))
      .filter(_._2.length > 1)
      .map { case (h, fs) => h -> fs.map(f => s"${f.repo}/${f.path}").sorted.toSeq }

    val got = ExactDedup.snapshot(ExactDedup.withHashes(corpus.toDF()))
      .select("group_id", "rkey").collect()
      .groupBy(_.getString(0))
      .map { case (h, rs) => h -> rs.map(_.getString(1)).sorted.toSeq }

    assert(got === oracle)
  }

  test("keeper election: lexicographically-first member keeps, rest symlink to it") {
    val snap = ExactDedup.snapshot(ExactDedup.withHashes(corpus.toDF())).collect()
    snap.groupBy(_.getAs[String]("group_id")).foreach { case (_, rows) =>
      val keeper = rows.map(_.getAs[String]("rkey")).min
      rows.foreach { r =>
        if (r.getAs[String]("rkey") == keeper) {
          assert(r.getAs[String]("action") === "keep")
          assert(r.getAs[String]("symlink_source") === null)
        } else {
          assert(r.getAs[String]("action") === "symlink")
          assert(r.getAs[String]("symlink_source") === keeper)
        }
      }
    }
  }

  test("freeable space matches oracle: sum over groups of size*(n-1)") {
    val oracle = local.groupBy(f => sha256Hex(f.content)).values
      .filter(_.length > 1)
      .map(fs => fs.head.content.length.toLong * (fs.length - 1)).sum
    val got = ExactDedup.freeableSpace(ExactDedup.withHashes(corpus.toDF()))
      .head().getLong(0)
    assert(got === oracle)
  }

  test("quick mode groups by 64-bit hash with unsigned-decimal ids (hash.rs:57-61)") {
    val q = ExactDedup.withHashes(corpus.toDF(), quick = true)
      .select("group_id", "xxh").limit(50).collect()
    q.foreach { r =>
      assert(r.getString(0) === java.lang.Long.toUnsignedString(r.getLong(1)))
    }
  }

  test("quick mode with xxh3: group ids byte-identical to reference xxh3_64 unsigned decimals (hash.rs:9-13, 57-61)") {
    val q = ExactDedup.withHashes(corpus.toDF(), quick = true, xxh3 = true)
      .join(corpus.toDF().select(ExactDedup.rkey.as("rkey"), col("content")), "rkey")
      .select("group_id", "content").limit(100).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      assert(r.getString(0) ===
        java.lang.Long.toUnsignedString(
          graft.functions.XXHash3.hashString(r.getString(1))))
    }
  }

  test("unique-content rows never appear in the snapshot (scanner.rs:96-106)") {
    val uniq = local.groupBy(f => sha256Hex(f.content)).filter(_._2.length == 1)
      .values.flatten.map(f => s"${f.repo}/${f.path}").toSet
    val snapKeys = ExactDedup.snapshot(ExactDedup.withHashes(corpus.toDF()))
      .select("rkey").collect().map(_.getString(0)).toSet
    assert(snapKeys.intersect(uniq).isEmpty)
  }
}
