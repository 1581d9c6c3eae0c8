package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, SimilarityIndexStore}
import graft.sources.ParquetCatalog

/** Persisted-ANN-index surface (round-3 verdict #5): build once as
 *  versioned catalog tables, query through the stored version, results
 *  row-identical to the rebuild-per-call path; rebuilds version, not
 *  replace. */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cat = ParquetCatalog
  private val dir = "/root/testdata/sf0.001"

  private lazy val embeddings = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("ANN top-k through the stored index is row-identical to the rebuild path") {
    val base = "graft_spec_annix"
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
    SimilarityIndexStore.buildAnn(spark, cat, base, embeddings)
    // the stored meta records the auto-resolved build parameters
    val meta = cat.readCanonical(spark, s"${base}_ann_meta").head()
    assert(meta.getAs[Int]("tables") === 16)
    assert(meta.getAs[Int]("bits") ===
      Similarity.autoBits(embeddings.count(), 4096))
    val stored = SimilarityIndexStore.annTopK(spark, cat, base, embeddings)
    val rebuilt = Similarity.annTopK(embeddings, 5)
    assert(rows(stored) === rows(rebuilt))
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
  }

  test("IVF top-k through stored centroids + index is row-identical to the rebuild path") {
    val base = "graft_spec_ivfix"
    Seq("_ivf_cent", "_ivf_idx").foreach(s => cat.dropAll(spark, base + s))
    SimilarityIndexStore.buildIvf(spark, cat, base, embeddings)
    // the reconstructed centroid array IS the build's centroid array
    val centStored = SimilarityIndexStore.loadIvfCentroids(spark, cat, base)
    val centDirect = Similarity.ivfCentroidsFromNormed(Similarity.normQuantized(embeddings),
      Similarity.autoCells(embeddings.count()), 3)
    assert(centStored.map(_.toSeq).toSeq === centDirect.map(_.toSeq).toSeq)
    val stored = SimilarityIndexStore.ivfTopK(spark, cat, base, embeddings)
    val rebuilt = Similarity.ivfTopK(embeddings, 5)
    assert(rows(stored) === rows(rebuilt))
    Seq("_ivf_cent", "_ivf_idx").foreach(s => cat.dropAll(spark, base + s))
  }

  test("rebuilding over an evolved corpus writes a NEW version; the old one stays readable") {
    val base = "graft_spec_annv"
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
    val half = embeddings.where(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    val v1 = SimilarityIndexStore.buildAnn(spark, cat, base, half)
    val idxV1 = rows(cat.readVersion(spark, s"${base}_ann_idx", v1))
    val v2 = SimilarityIndexStore.buildAnn(spark, cat, base, embeddings)
    assert(v2 > v1)
    // canonical = newest build; the prior index version is retained verbatim
    assert(rows(cat.readCanonical(spark, s"${base}_ann_idx")) !== idxV1)
    assert(rows(cat.readVersion(spark, s"${base}_ann_idx", v1)) === idxV1)
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
  }

  test("stored ANN meta records build dims; a mismatched-dims query batch is rejected") {
    import org.apache.spark.sql.functions._
    val base = "graft_spec_anndims"
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
    SimilarityIndexStore.buildAnn(spark, cat, base, embeddings)
    // dims are a BUILD property recorded in the meta row (round-4 ADVICE:
    // re-deriving them from the query batch silently used different planes)
    val meta = cat.readCanonical(spark, s"${base}_ann_meta").head()
    assert(meta.getAs[Int]("dims") === Similarity.dimsOf(embeddings))
    // query vectors of a DIFFERENT dimensionality must error, not sketch
    // against a mismatched plane table with silently collapsed recall
    val qBad = embeddings.select(col("vec_id"), slice(col("embedding"), 1, 3).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      SimilarityIndexStore.annTopK(spark, cat, base, qBad).collect()
    }
    assert(e.getMessage.contains("dims"))
    // an EMPTY query batch is fine (no dims to check) and returns no rows
    val none = SimilarityIndexStore.annTopK(spark, cat, base,
      embeddings.where(lit(false)))
    assert(none.isEmpty)
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
  }

  test("an empty stored ANN meta table fails with a rebuild instruction") {
    import spark.implicits._
    val base = "graft_spec_annempty"
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
    SimilarityIndexStore.buildAnn(spark, cat, base, embeddings)
    // a newer, EMPTY meta version becomes the canonical one
    cat.writeVersion(spark, s"${base}_ann_meta",
      Seq.empty[(Int, Int, Int)].toDF("tables", "bits", "dims"))
    val e = intercept[IllegalArgumentException] {
      SimilarityIndexStore.annTopK(spark, cat, base, embeddings)
    }
    assert(e.getMessage.contains("empty") && e.getMessage.contains("buildAnn"))
    Seq("_ann_meta", "_ann_idx").foreach(s => cat.dropAll(spark, base + s))
  }
}
