package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.corpus.{Corpus, XxhHex}
import graft.functions.XXHash64
import graft.model.FileRow

/**
 * Seeded corpus generators for the two workloads, and the planted duplicate
 * pairs each corpus is known to contain (the recall ground truth).
 *
 * Both corpora are built from [[graft.corpus.Corpus.synthetic]], whose
 * recipe plants, per base document `id`:
 *  - `src/f<id>`   the base file,
 *  - `copy/f<id>`  an exact copy            (id % 5 == 0),
 *  - `near/f<id>`  the base minus 8 tokens  (id % 7 == 0),
 *  - `sub/f<id>`   a file sharing a 60-token block with ~15 others (id % 11 == 0),
 *  - `lic/f<id>`   the hot license-header group (id % 23 == 0),
 *  - `empty/f<id>` the empty-content group  (id % 101 == 0).
 */
object Inputs {

  /** Forks per upstream file in the `forks_cycle` corpus. */
  val Forks = 10

  /** One fork in `PatchEvery` patches a given file (≈ 2 %). */
  val PatchEvery = 50L

  def codeCorpus(spark: SparkSession, nDocs: Long, seed: Long): DataFrame =
    Corpus.synthetic(spark, nDocs, seed).toDF()

  /**
   * `nDocs` synthetic upstream files, each copied into [[Forks]] forks. Fork
   * 0 is the upstream itself (repo `fork0/<repo>`, content and commit
   * unchanged). Every other fork gets a new repo and commit, and patches
   * about one file in [[PatchEvery]] by appending a short line: that copy
   * becomes a near-duplicate of its upstream file, every other copy is
   * exact. License-header and empty files are copied verbatim.
   */
  def forksCorpus(spark: SparkSession, nDocs: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val forks = Forks
    val every = PatchEvery
    Corpus.synthetic(spark, nDocs, seed).flatMap { r =>
      Iterator.tabulate(forks) { f =>
        if (f == 0) r.copy(repo = s"fork0/${r.repo}")
        else {
          val h = XXHash64.hashString(s"$f/${r.repo}/${r.path}", seed)
          val patched = r.content.nonEmpty && !r.path.startsWith("lic/") &&
            java.lang.Long.remainderUnsigned(h, every) == 0L
          val content =
            if (patched) s"${r.content}\nfork$f patch ${h & 0xffffL} applied here" else r.content
          FileRow(s"fork$f/${r.repo}", r.path, XxhHex.sha40(s"fork$f:$content"), r.lang, content)
        }
      }
    }.toDF()
  }

  /** Pairs `(kind, a, b)` of row keys (`repo/path`) that the generator planted as
   *  duplicates: exact copies, near-duplicates, shared-block files, and the
   *  license and empty groups (each group as a star on its smallest key).
   *  On a forked corpus every fork's file is also paired with its upstream. */
  def plantedPairs(corpus: DataFrame, nDocs: Long, forked: Boolean): DataFrame = {
    val re = "^([a-z]+)/f(\\d+)\\."
    val rows = corpus.select(
      col("repo"), col("path"),
      concat(col("repo"), lit("/"), col("path")).as("rkey"),
      regexp_extract(col("path"), re, 1).as("kind"),
      regexp_extract(col("path"), re, 2).cast("long").as("id"))
    val upstream = if (forked) rows.where(col("repo").startsWith("fork0/")) else rows

    val src = upstream.where(col("kind") === "src").select(col("repo"), col("id"), col("rkey").as("a"))
    val copies = upstream.where(col("kind").isin("copy", "near"))
      .join(src, Seq("repo", "id")).select(col("kind"), col("a"), col("rkey").as("b"))

    val nBlocks = math.max(8L, nDocs / 150L) // Corpus.synthetic's block pool
    val blocks = upstream.where(col("kind") === "sub")
      .withColumn("group", expr(s"cast(pmod(id div 11, $nBlocks) as string)"))
    val groups = upstream.where(col("kind").isin("lic", "empty")).withColumn("group", col("kind"))
    val w = Window.partitionBy("group")
    val stars = blocks.unionByName(groups)
      .withColumn("a", min(col("rkey")).over(w))
      .where(col("a") =!= col("rkey"))
      .select(col("kind"), col("a"), col("rkey").as("b"))

    val recipe = copies.unionByName(stars)
    if (!forked) recipe
    else recipe.unionByName(rows.where(!col("repo").startsWith("fork0/")).select(
      lit("fork").as("kind"),
      concat(regexp_replace(col("repo"), "^fork\\d+/", "fork0/"), lit("/"), col("path")).as("a"),
      col("rkey").as("b")))
  }
}
