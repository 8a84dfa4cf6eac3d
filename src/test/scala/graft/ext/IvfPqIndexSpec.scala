package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: PQ-compressed postings (m codes + a norm, no
  * vectors), partition-pruned search, quantizer round-trip, append with
  * loaded quantizers. */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    graft.SparkSpec.tempDir("ivfpqidx").toString + "/idx"

  behavior of "Similarity IVF-PQ index persistence"

  it should "round-trip: from-disk search equals in-memory ivfpqTopK (same seed)" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val path = tmpDir()
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nlist = 8, m = 16, codebookSize = 32, maxIter = 5) shouldBe 8
    val fromDisk = Similarity.searchIvfPqIndex(spark, path, q,
        "vec_id", "embedding", k = 5, nprobe = 3, rerankFactor = 4,
        rerank = Some(emb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    // seeded training over the same corpus yields the identical model, so
    // the in-memory operator is the exact twin of the artifact path
    val inMem = Similarity.ivfpqTopK(emb, q, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, m = 16, codebookSize = 32,
        rerankFactor = 4, maxIter = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    fromDisk shouldBe inMem
    fromDisk.length shouldBe 25
  }

  it should "store compressed postings only (codes + norm, never vectors)" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = tmpDir()
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nlist = 8, m = 16, codebookSize = 32, maxIter = 5)
    val postings = spark.read.parquet(s"$path/postings")
    postings.count() shouldBe emb.count()
    // batch + cell are partition-directory keys, not stored data
    postings.columns.sorted shouldBe Array("batch", "cell", "codes", "id", "xnorm")
    // m int codes per row, all within the codebook range
    postings.filter(org.apache.spark.sql.functions.size(col("codes")) =!= 16).count() shouldBe 0L
    postings.filter(exists(col("codes"),
      c => c < 0 || c >= 32)).count() shouldBe 0L
    // the quantizers round-trip: m codebooks of <= codebookSize entries
    val model = Similarity.loadIvfPqModel(spark, path).get
    model.m shouldBe 16
    model.books.foreach(_.length should be <= 32)
    model.coarse.length shouldBe 8
  }

  it should "prune unprobed cell directories at the postings scan" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
    val path = tmpDir()
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nlist = 8, m = 16, codebookSize = 32, maxIter = 5)
    val search = Similarity.searchIvfPqIndex(spark, path, q,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val plan = search.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[.*cell.*"
    plan should not include "Window"
    search.count() shouldBe 3L
  }

  it should "hold the recall floor from disk with rerank (exact when probing all)" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val path = tmpDir()
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nlist = 16, m = 16, codebookSize = 32, maxIter = 5)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val got = Similarity.searchIvfPqIndex(spark, path, q,
        "vec_id", "embedding", k = 5, nprobe = 10, rerankFactor = 10,
        rerank = Some(emb))
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    (bf.intersect(got).size.toDouble / bf.size) should be >= 0.55
  }

  it should "append with the loaded quantizers and serve the union" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 2 === 0)
    val fresh = emb.filter(col("vec_id") % 2 =!= 0)
    val path = tmpDir()
    Similarity.buildIvfPqIndex(old, "vec_id", "embedding", path,
      nlist = 8, m = 16, codebookSize = 32, maxIter = 5)
    Similarity.appendIvfPqIndex(fresh, "vec_id", "embedding", path) shouldBe
      fresh.count()
    val postings = spark.read.parquet(s"$path/postings")
    postings.count() shouldBe emb.count()
    // appended rows carry the same codes the loaded model assigns them
    val model = Similarity.loadIvfPqModel(spark, path).get
    model.coarse.length shouldBe 8
    // probing every cell with a deep exact rerank = exact search over the
    // union: must equal brute force
    val q = emb.filter(col("vec_id") < 3)
    val got = Similarity.searchIvfPqIndex(spark, path, q,
        "vec_id", "embedding", k = 5, nprobe = 8, rerankFactor = 100,
        rerank = Some(emb))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    got shouldBe bf
  }

  it should "compact per-append file sets and drop double-appended rows" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 2 === 0)
    val fresh = emb.filter(col("vec_id") % 2 =!= 0)
    val path = tmpDir()
    Similarity.buildIvfPqIndex(old, "vec_id", "embedding", path,
      nlist = 8, m = 16, codebookSize = 32, maxIter = 5)
    Similarity.appendIvfPqIndex(fresh, "vec_id", "embedding", path)
    Similarity.appendIvfPqIndex(fresh, "vec_id", "embedding", path) // retry
    spark.read.parquet(s"$path/postings").count() shouldBe
      old.count() + 2 * fresh.count()
    Similarity.compactIvfIndex(spark, path)
    spark.read.parquet(s"$path/postings").count() shouldBe emb.count()
    // all-cell deep-rerank search equals brute force again
    val q = emb.filter(col("vec_id") < 3)
    Similarity.searchIvfPqIndex(spark, path, q, "vec_id", "embedding",
        k = 5, nprobe = 8, rerankFactor = 100, rerank = Some(emb))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet shouldBe
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val batchDirs = new java.io.File(s"$path/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    batchDirs.length shouldBe 1
    val cellDirs = batchDirs.head.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    cellDirs.length should be > 0
    all(cellDirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))) shouldBe 1
  }

  it should "handle an empty index and reject appending to one" in {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = tmpDir()
    Similarity.buildIvfPqIndex(emb.limit(0), "vec_id", "embedding",
      path, nlist = 8) shouldBe 0
    Similarity.loadIvfPqModel(spark, path) shouldBe None
    Similarity.searchIvfPqIndex(spark, path,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
      .count() shouldBe 0L
    an[IllegalStateException] should be thrownBy
      Similarity.appendIvfPqIndex(emb, "vec_id", "embedding", path)
  }
}
