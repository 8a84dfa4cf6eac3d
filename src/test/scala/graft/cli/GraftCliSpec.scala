package graft.cli

import graft.SparkSpec
import graft.core.SchemaPaths
import graft.diffy.CaseClassDiffy
import java.nio.file.Files
import org.apache.spark.sql.types._

case class CliRec(k: Long, v: Double, s: String)

/** CLI smoke + CaseClassDiffy + schema merge (reference Ratatool.scala,
  * CaseClassDiffy.scala, BigDiffy.scala:549-579). */
class GraftCliSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = graft.SparkSpec.tempDir("cli").toString

  behavior of "graft CLI"

  it should "run bigDiffy end-to-end and write the three stats relations" in {
    val base = tmp()
    val l = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val r = Seq((1L, 1.5), (3L, 3.0)).toDF("k", "v")
    l.write.parquet(s"$base/lhs"); r.write.parquet(s"$base/rhs")
    Graft.run(Seq("bigDiffy", s"--lhs=$base/lhs", s"--rhs=$base/rhs",
      "--key=k", s"--output=$base/out"), spark)
    val global = spark.read.option("header", "true").option("sep", "\t")
      .csv(s"$base/out/global").head()
    global.getString(0) shouldBe "3" // num_total
    new java.io.File(s"$base/out/keys").exists() shouldBe true
    new java.io.File(s"$base/out/fields").exists() shouldBe true
  }

  it should "leave no RDD persisted after any command family" in {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/d0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$base/d1")
    docs.filter(col("doc_id") < 6)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .write.parquet(s"$base/incoming")
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    spark.read.parquet(emb).limit(3).write.parquet(s"$base/qv")
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.parquet(s"$base/lhs")
    Seq((1L, 1.5), (3L, 3.0)).toDF("k", "v").write.parquet(s"$base/rhs")
    Files.write(java.nio.file.Paths.get(s"$base/recipe.json"),
      s"""{"input": "$base/d0", "output": "$base/curated",
         | "stages": [{"op": "normalize"}, {"op": "dedup_near"}]}""".stripMargin
        .getBytes("UTF-8"))
    val didx = s"--index=$base/didx"
    val families = Seq(
      "dedup index build" -> Seq("index", "--type=dedup", s"--input=$base/d0",
        s"--output=$base/didx"),
      "dedup index append" -> Seq("index", "--type=dedup", "--append",
        s"--input=$base/d1", s"--output=$base/didx"),
      "dedup-near search" -> Seq("search", "--type=dedup", didx,
        s"--queries=$base/incoming", s"--output=$base/near"),
      "dedup-exact search" -> Seq("search", "--type=dedup", "--mode=exact", didx,
        s"--queries=$base/incoming", s"--output=$base/exact"),
      "dedup index compact" -> Seq("index", "--type=dedup", "--compact",
        s"--output=$base/didx"),
      "text index build" -> Seq("index", "--type=text", s"--input=$base/d0",
        s"--output=$base/tidx", "--buckets=8"),
      "text search" -> Seq("search", "--type=text", s"--index=$base/tidx",
        "--query=spark join;;customer order", s"--output=$base/hits"),
      "ivfpq index build" -> Seq("index", "--type=ivfpq", s"--input=$emb",
        s"--output=$base/pq", "--nlist=4", "--m=8", "--codebook-size=16"),
      "ivfpq search" -> Seq("search", "--type=ivfpq", s"--index=$base/pq",
        s"--queries=$base/qv", s"--output=$base/nn"),
      "pipeline" -> Seq("pipeline", s"--recipe=$base/recipe.json"),
      "bigSampler" -> Seq("bigSampler", s"--input=$base/d0",
        s"--output=$base/sample", "--sample=0.5", "--fields=doc_id"),
      "bigDiffy" -> Seq("bigDiffy", s"--lhs=$base/lhs", s"--rhs=$base/rhs",
        "--key=k", s"--output=$base/out"))
    families.foreach { case (family, args) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Graft.run(args, spark)
      withClue(s"$family: ") {
        (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
      }
    }
    // the searches saw the appended half: every planted copy is found
    spark.read.parquet(s"$base/near")
      .filter(col("id_old") === col("id_new") - 100000L).count() shouldBe 6L
    spark.read.parquet(s"$base/exact").count() shouldBe 0L
    def tsv(name: String) = spark.read.option("header", "true").option("sep", "\t")
      .csv(s"$base/out/$name").collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // num_total, num_same, num_diff, num_missing_lhs, num_missing_rhs
    tsv("global") shouldBe Seq("3|0|1|1|1")
    tsv("keys").map(_.split('|').take(2).mkString("|")) shouldBe
      Seq("1|DIFFERENT", "2|MISSING_RHS", "3|MISSING_LHS")
  }

  it should "apply --row-restriction to both diff sides and the sampler input" in {
    val base = tmp()
    val l = (1L to 100L).map(i => (i, i.toDouble)).toDF("k", "v")
    val r = (1L to 100L).map(i => (i, i.toDouble + (i % 10))).toDF("k", "v")
    l.write.parquet(s"$base/lhs"); r.write.parquet(s"$base/rhs")
    // only k % 4 = 0 rows survive: 25 keys, of which k % 20 ∈ {4,8,12,16}
    // differ (i % 10 != 0) -> num_total = 25
    Graft.run(Seq("bigDiffy", s"--lhs=$base/lhs", s"--rhs=$base/rhs",
      "--key=k", s"--output=$base/out", "--row-restriction='k % 4 = 0'"), spark)
    val global = spark.read.option("header", "true").option("sep", "\t")
      .csv(s"$base/out/global").head()
    global.getString(0) shouldBe "25" // num_total restricted to k % 4 = 0
    // sampler: restriction first, then the (deterministic) 100% sample
    Graft.run(Seq("bigSampler", s"--input=$base/lhs", s"--output=$base/samp",
      "--sample=1.0", "--fields=k", "--row-restriction=k % 4 = 0"), spark)
    spark.read.parquet(s"$base/samp").count() shouldBe 25
  }

  it should "push the row-restriction predicate into the parquet scan" in {
    val df = Graft.restrict(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      Map("row-restriction" -> "o_orderkey > 1000"))
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,1000)")
    // predicates that merely start and end with string literals survive
    // the quote-strip untouched
    val dated = Graft.restrict(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      Map("row-restriction" ->
        "'1995-01-01' <= o_orderpriority AND o_orderpriority <= '5-LOW'"))
    noException should be thrownBy dated.queryExecution.optimizedPlan
    // backtick wrappers strip like the reference's stripQuoteWrap
    val ticked = Graft.restrict(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      Map("row-restriction" -> "`o_orderkey > 1000`"))
    ticked.queryExecution.executedPlan.toString should include(
      "GreaterThan(o_orderkey,1000)")
  }

  it should "run bigSampler exact stratified and honor the output guard" in {
    val base = tmp()
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("k", "g")
    df.write.parquet(s"$base/in")
    val args = Seq("bigSampler", s"--input=$base/in", s"--output=$base/out",
      "--sample=0.1", "--fields=k", "--distribution=stratified",
      "--distribution-fields=g", "--exact")
    Graft.run(args, spark)
    spark.read.parquet(s"$base/out").count() shouldBe 100
    Graft.run(args, spark) // second run: short-circuits, no overwrite error
  }

  it should "run directSampler head with deterministic ordering" in {
    val base = tmp()
    (1L to 50L).map(i => (i, s"r$i")).toDF("k", "v").write.parquet(s"$base/in")
    Graft.run(Seq("directSampler", s"--input=$base/in", s"--output=$base/out",
      "-n=5", "--mode=head", "--order-by=k"), spark)
    spark.read.parquet(s"$base/out").orderBy("k").as[(Long, String)]
      .collect().map(_._1) shouldBe Array(1L, 2L, 3L, 4L, 5L)
  }

  it should "run directSampler perKey keeping k rows per class" in {
    val base = tmp()
    (1L to 90L).map(i => (i, s"c${i % 3}")).toDF("k", "cls")
      .write.parquet(s"$base/in")
    Graft.run(Seq("directSampler", s"--input=$base/in", s"--output=$base/out",
      "-n=4", "--mode=perKey", "--per-key=cls"), spark)
    spark.read.parquet(s"$base/out").groupBy("cls").count()
      .orderBy("cls").as[(String, Long)].collect() shouldBe
      Array(("c0", 4L), ("c1", 4L), ("c2", 4L))
  }

  it should "run corpusReport grouped with a restriction and honor the guard" in {
    val base = tmp()
    Seq(("en", "one two", 1L), ("en", "one two", 2L), ("de", "drei", 3L))
      .toDF("lang", "text", "id").write.parquet(s"$base/in")
    val args = Seq("corpusReport", s"--input=$base/in", s"--output=$base/out",
      "--group-by=lang", "--row-restriction=id <= 2")
    Graft.run(args, spark)
    val rep = spark.read.parquet(s"$base/out")
    rep.count() shouldBe 1L // restriction leaves only en rows
    val r = rep.head()
    r.getAs[String]("lang") shouldBe "en"
    r.getAs[Long]("n_docs") shouldBe 2L
    r.getAs[Long]("n_distinct") shouldBe 1L
    Graft.run(args, spark) // idempotent re-run via the output guard
  }

  it should "run gopherFilter in filter and audit modes" in {
    val base = tmp()
    val clean = "the quick and careful fox " + (1 to 56).map(i => s"word$i").mkString(" ")
    Seq((1L, clean), (2L, "- a\n- b"), (3L, ""))
      .toDF("id", "text").write.parquet(s"$base/in")
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/kept"), spark)
    val kept = spark.read.parquet(s"$base/kept")
    kept.select("id").as[Long].collect() shouldBe Array(1L)
    kept.columns.toSeq shouldBe Seq("id", "text") // original columns only
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/audit", "--signals-only"), spark)
    val audit = spark.read.parquet(s"$base/audit")
    audit.count() shouldBe 3L
    audit.filter(audit("keep")).select("id").as[Long].collect() shouldBe Array(1L)
  }

  it should "honor a non-English gopherFilter profile via flags" in {
    val base = tmp()
    val prose = "la casa de mi abuela tiene una puerta grande y " +
      (1 to 48).map(i => s"palabra$i").mkString(" ")
    Seq((1L, prose)).toDF("id", "text").write.parquet(s"$base/in")
    // paper profile (English stopwords) rejects the Spanish doc
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/en"), spark)
    spark.read.parquet(s"$base/en").count() shouldBe 0L
    // Spanish profile keeps it
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/es", "--stopwords=de,la,que,el,en,y,los,una"), spark)
    spark.read.parquet(s"$base/es").select("id").as[Long].collect() shouldBe
      Array(1L)
    // empty stopwords + hits floor 0 disables the rule entirely
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/any", "--stopwords=", "--min-stopword-hits=0"), spark)
    spark.read.parquet(s"$base/any").count() shouldBe 1L
  }

  it should "apply the repetition rules with --repetition" in {
    val base = tmp()
    val clean = "the quick and careful fox " + (1 to 56).map(i => s"word$i").mkString(" ")
    // passes the base rules (wordy, stopwords) but is pure repetition
    val spammy = "the fox " + (1 to 30).map(_ => "of and that have with be").mkString(" ")
    Seq((1L, clean), (2L, spammy)).toDF("id", "text").write.parquet(s"$base/in")
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/base"), spark)
    spark.read.parquet(s"$base/base").select("id").as[Long].collect().sorted shouldBe
      Array(1L, 2L)
    Graft.run(Seq("gopherFilter", s"--input=$base/in",
      s"--output=$base/rep", "--repetition"), spark)
    spark.read.parquet(s"$base/rep").select("id").as[Long].collect() shouldBe
      Array(1L)
  }

  it should "run a pipeline recipe with per-stage counts matching the operators" in {
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // plant an exact duplicate of doc 1 so dedup_exact provably fires
    docs.unionByName(docs.filter($"doc_id" === 1)
        .select(($"doc_id" + 2000).as("doc_id"), $"text"))
      .write.parquet(s"$base/in")
    val n0 = docs.count()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/recipe.json"),
      s"""{
         | "input": "$base/in", "output": "$base/out",
         | "id_col": "doc_id", "text_col": "text",
         | "stages": [
         |   {"op": "dedup_exact"},
         |   {"op": "quality_top_fraction", "fraction": 0.6}
         | ]
         |}""".stripMargin.getBytes("UTF-8"))
    val stats = Pipeline.run(s"$base/recipe.json", Map.empty, spark)

    // oracle: run each operator individually on the same input
    val in = spark.read.parquet(s"$base/in")
    val afterExact = in.join(
      graft.ext.Dedup.exactByFingerprint(in, "doc_id", "text")
        .select("doc_id"), "doc_id")
    val afterQuality = graft.ext.ScoreFilter.keepTopFraction(
      graft.ext.TextAnalysis.qualitySignals(afterExact, "text"),
      "quality_score", 0.6, tieBreak = Seq("doc_id"))

    stats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe Seq(
      ("dedup_exact", n0 + 1, afterExact.count()),
      ("quality_top_fraction", afterExact.count(), afterQuality.count()))
    afterExact.count() shouldBe n0 // only the planted copy collapsed

    // the written corpus is the final stage's rows, original schema
    val out = spark.read.parquet(s"$base/out")
    out.columns.toSeq shouldBe Seq("doc_id", "text")
    out.count() shouldBe afterQuality.count()
    out.select("doc_id").as[Long].collect().sorted shouldBe
      afterQuality.select("doc_id").as[Long].collect().sorted

    // _stages.json is a readable audit artifact with one row per stage
    val stJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/out/_stages.json")), "UTF-8")
    spark.read.json(Seq(stJson).toDS).count() shouldBe 2L
  }

  it should "fuzzy-decontaminate and leakage-safe-split through a pipeline recipe" in {
    import org.apache.spark.sql.functions.{countDistinct, regexp_replace}
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter($"doc_id" % 97 === 0)
    bench.write.parquet(s"$base/bench")
    // corpus: all docs + a lightly-edited copy of each benchmark text
    // ('@' every 40 chars — shares no long exact gram, Jaccard ≈ 0.8)
    docs.unionByName(bench.select(($"doc_id" + 100000).as("doc_id"),
        regexp_replace($"text", "(.{40})", "$1@").as("text")))
      .write.parquet(s"$base/in")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/recipe.json"),
      s"""{
         | "input": "$base/in", "output": "$base/out",
         | "id_col": "doc_id", "text_col": "text",
         | "stages": [
         |   {"op": "decontaminate_fuzzy", "benchmark": "$base/bench",
         |    "threshold": 0.6, "bands": 32},
         |   {"op": "leakage_safe_split", "threshold": 0.5, "bands": 32,
         |    "fractions": [{"label": "train", "fraction": 0.8},
         |                  {"label": "holdout", "fraction": 0.2}]}
         | ]
         |}""".stripMargin.getBytes("UTF-8"))
    val stats = Pipeline.run(s"$base/recipe.json", Map.empty, spark)
    // the fuzzy stage drops every planted edited copy (Jaccard ≈ 0.8 vs
    // its benchmark source) and the benchmark originals themselves
    // (Jaccard 1.0 — they are in the corpus too)
    val out = spark.read.parquet(s"$base/out")
    out.columns.toSeq shouldBe Seq("doc_id", "text", "cluster", "split")
    out.filter($"doc_id" >= 100000).count() shouldBe 0L // planted gone
    out.join(bench, Seq("doc_id"), "left_semi").count() shouldBe 0L
    stats.map(_.op) shouldBe Seq("decontaminate_fuzzy", "leakage_safe_split")
    // split stage is row-preserving and cluster-atomic
    stats(1).rowsIn shouldBe stats(1).rowsOut
    out.groupBy("cluster").agg(countDistinct("split").as("n"))
      .filter($"n" =!= 1).count() shouldBe 0L
  }

  it should "report duplication from the CLI with per-source attribution" in {
    import org.apache.spark.sql.functions.lit
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source")
    // plant two extra copies of doc 1 and one of doc 2, all from "crawl2"
    docs.unionByName(
        docs.filter($"doc_id" isin (1L, 1L, 2L)).limit(3)
          .select(($"doc_id" + 9000).as("doc_id"), $"text", lit("crawl2").as("source")))
      .unionByName(docs.filter($"doc_id" === 1L)
        .select(($"doc_id" + 9500).as("doc_id"), $"text", lit("crawl2").as("source")))
      .write.parquet(s"$base/in")
    Graft.run(Seq("dedupReport", s"--input=$base/in", s"--output=$base/rep",
      "--mode=exact", "--by=source"), spark)
    val rep = spark.read.parquet(s"$base/rep")
    rep.columns.toSeq shouldBe Seq("kind", "key", "n_clusters", "n_docs", "n_redundant")
    // doc 1 now exists 3x, doc 2 2x: sizes {1: n-2 clusters, 2: one, 3: one}
    val sizes = rep.filter($"kind" === "size")
      .select("key", "n_clusters").as[(String, Long)].collect().toMap
    sizes("3") shouldBe 1L
    sizes("2") shouldBe 1L
    // all redundancy charged to crawl2 (the planted copies)
    val bySrc = rep.filter($"kind" === "source")
      .select("key", "n_redundant").as[(String, Long)].collect().toMap
    bySrc("crawl2") shouldBe 3L
    (bySrc - "crawl2").values.sum shouldBe 0L
    // n_docs conservation on the size histogram
    rep.filter($"kind" === "size").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .as[Long].head() shouldBe spark.read.parquet(s"$base/in").count()
  }

  it should "profile and compact from the CLI" in {
    val base = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(8).write.parquet(s"$base/in")
    Graft.run(Seq("profile", s"--input=$base/in",
      s"--output=$base/prof", "--columns=doc_id,lang"), spark)
    val prof = spark.read.parquet(s"$base/prof")
    prof.count() shouldBe 2L
    prof.columns should contain("completeness")
    val inBytes = new java.io.File(s"$base/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    Graft.run(Seq("compact", s"--input=$base/in", s"--output=$base/out",
      s"--target-bytes=${inBytes / 2 + 1}"), spark)
    new java.io.File(s"$base/out").listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 2
    spark.read.parquet(s"$base/out").count() shouldBe
      spark.read.parquet(s"$base/in").count()
  }

  it should "cluster embeddings from the CLI into a cluster-partitioned layout" in {
    val base = tmp()
    Graft.run(Seq("cluster",
      "--input=/root/testdata/sf0.001/embeddings.parquet",
      s"--output=$base/out", "--k=4"), spark)
    val out = spark.read.parquet(s"$base/out")
    out.columns.sorted shouldBe Array("cluster", "id")
    out.count() shouldBe
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    out.select("cluster").distinct().count() shouldBe 4L
    // hive layout: one directory per cluster
    new java.io.File(s"$base/out").listFiles()
      .count(_.getName.startsWith("cluster=")) shouldBe 4
  }

  it should "build and query text and ivf indexes from the CLI" in {
    val base = tmp()
    Graft.run(Seq("index", "--input=/root/testdata/sf0.001/documents.parquet",
      s"--output=$base/tidx", "--type=text", "--buckets=16"), spark)
    Graft.run(Seq("search", s"--index=$base/tidx", s"--output=$base/hits",
      "--type=text", "--query=spark join filter;;customer order data",
      "--k=5"), spark)
    val hits = spark.read.parquet(s"$base/hits")
    hits.count() shouldBe 10L
    hits.columns.sorted.toSeq shouldBe Seq("doc_id", "query_id", "rank", "score")
    Graft.run(Seq("index", "--input=/root/testdata/sf0.001/embeddings.parquet",
      s"--output=$base/vidx", "--type=ivf", "--nlist=8"), spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(3).write.parquet(s"$base/q")
    Graft.run(Seq("search", s"--index=$base/vidx", s"--output=$base/nn",
      "--type=ivf", s"--queries=$base/q", "--k=4", "--nprobe=3"), spark)
    val nn = spark.read.parquet(s"$base/nn")
    nn.count() shouldBe 12L
    nn.columns.sorted.toSeq shouldBe
      Seq("cosine_sim", "neighbor_id", "query_id", "rank")
    // drift remediation from the CLI: ivf retrains from the artifact's
    // OWN postings (no --input); count conserved, search still serves
    val nPostings = spark.read.parquet(s"$base/vidx/postings").count()
    Graft.run(Seq("index", s"--output=$base/vidx", "--type=ivf",
      "--retrain", "--nlist=8", "--max-iter=5"), spark)
    spark.read.parquet(s"$base/vidx/postings").count() shouldBe nPostings
    Graft.run(Seq("search", s"--index=$base/vidx", s"--output=$base/nn2",
      "--type=ivf", s"--queries=$base/q", "--k=4", "--nprobe=3"), spark)
    spark.read.parquet(s"$base/nn2").count() shouldBe 12L
    // hybrid: fuse the two artifacts just built over a joint query batch
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs.select(col("doc_id").as("qid"), col("text").as("qtext"))
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid")
      .filter(col("qid") < 3).write.parquet(s"$base/hq")
    Graft.run(Seq("search", s"--index=$base/tidx", s"--vec-index=$base/vidx",
      s"--output=$base/fused", "--type=hybrid", s"--queries=$base/hq",
      "--k=5", "--nprobe=8"), spark)
    val fused = spark.read.parquet(s"$base/fused")
    fused.columns.sorted.toSeq shouldBe Seq("doc_id", "query_id", "rank", "score")
    fused.groupBy("query_id").count().filter(col("count") =!= 5).count() shouldBe 0L
    fused.select("query_id").distinct().count() shouldBe 3L
  }

  it should "build, append and search dedup and ivfpq indexes" in {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/d0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$base/d1")
    // dedup index: build on evens, append odds, then search with copies
    Graft.run(Seq("index", s"--input=$base/d0", s"--output=$base/didx",
      "--type=dedup", "--bands=32"), spark)
    Graft.run(Seq("index", s"--input=$base/d1", s"--output=$base/didx",
      "--type=dedup", "--append"), spark)
    docs.filter(col("doc_id") < 6)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .write.parquet(s"$base/incoming")
    Graft.run(Seq("search", s"--index=$base/didx", s"--output=$base/pairs",
      "--type=dedup", s"--queries=$base/incoming", "--threshold=0.9"), spark)
    val pairs = spark.read.parquet(s"$base/pairs")
    pairs.columns.toSeq shouldBe Seq("id_new", "id_old", "jaccard")
    // every planted copy matches its source (both halves reachable only
    // because the append landed)
    pairs.filter(col("id_old") === col("id_new") - 100000L)
      .count() shouldBe 6L
    Graft.run(Seq("search", s"--index=$base/didx", s"--output=$base/novel",
      "--type=dedup", "--mode=exact", s"--queries=$base/incoming"), spark)
    spark.read.parquet(s"$base/novel").count() shouldBe 0L // all exact copies
    // in-place compaction: searches unchanged, bloom segments consolidate
    Graft.run(Seq("index", s"--output=$base/didx", "--type=dedup",
      "--compact"), spark)
    Graft.run(Seq("search", s"--index=$base/didx", s"--output=$base/pairs2",
      "--type=dedup", s"--queries=$base/incoming", "--threshold=0.9"), spark)
    spark.read.parquet(s"$base/pairs2")
      .filter(col("id_old") === col("id_new") - 100000L)
      .count() shouldBe 6L
    new java.io.File(s"$base/didx/bloom_fp")
      .listFiles().count(_.getName.endsWith(".bin")) shouldBe 1
    // ivfpq index: build, append, search with exact re-rank
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$base/e0")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$base/e1")
    Graft.run(Seq("index", s"--input=$base/e0", s"--output=$base/pqidx",
      "--type=ivfpq", "--nlist=8", "--m=16", "--codebook-size=32"), spark)
    Graft.run(Seq("index", s"--input=$base/e1", s"--output=$base/pqidx",
      "--type=ivfpq", "--append"), spark)
    spark.read.parquet(s"$base/pqidx/postings").count() shouldBe emb.count()
    emb.limit(3).write.parquet(s"$base/qv")
    Graft.run(Seq("search", s"--index=$base/pqidx", s"--output=$base/pqnn",
      "--type=ivfpq", s"--queries=$base/qv", "--k=4", "--nprobe=8",
      "--rerank-factor=10",
      s"--rerank-input=/root/testdata/sf0.001/embeddings.parquet"), spark)
    val nn = spark.read.parquet(s"$base/pqnn")
    nn.count() shouldBe 12L
    nn.columns.sorted.toSeq shouldBe
      Seq("cosine_sim", "neighbor_id", "query_id", "rank")
    // ivfpq retrain needs the caller-named vector source (--input): the
    // supplied relation IS the new index content
    Graft.run(Seq("index",
      "--input=/root/testdata/sf0.001/embeddings.parquet",
      s"--output=$base/pqidx", "--type=ivfpq", "--retrain",
      "--nlist=8", "--m=16", "--codebook-size=32", "--max-iter=5"), spark)
    spark.read.parquet(s"$base/pqidx/postings").count() shouldBe emb.count()
  }

  it should "gate the pipeline on data-quality checks" in {
    val base = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").write.parquet(s"$base/in")
    def recipe(path: String, out: String, lo: Long, onFail: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        s"""{
           | "input": "$base/in", "output": "$out",
           | "id_col": "doc_id", "text_col": "text",
           | "stages": [
           |   {"op": "check", "on_fail": "$onFail", "constraints": [
           |     {"kind": "not_null", "col": "doc_id"},
           |     {"kind": "unique", "cols": ["doc_id"]},
           |     {"kind": "in_range", "col": "doc_id", "lo": $lo, "hi": 1000000}
           |   ]},
           |   {"op": "dedup_exact"}
           | ]
           |}""".stripMargin.getBytes("UTF-8"))

    // passing checks: pipeline completes, check stage is identity on rows
    recipe(s"$base/ok.json", s"$base/out_ok", lo = 0L, onFail = "fail")
    val stats = Pipeline.run(s"$base/ok.json", Map.empty, spark)
    stats.head.op shouldBe "check"
    stats.head.rowsIn shouldBe stats.head.rowsOut
    spark.read.parquet(s"$base/out_ok").count() shouldBe stats.last.rowsOut

    // failing check aborts before any output is written, naming the rule
    recipe(s"$base/bad.json", s"$base/out_bad", lo = 500L, onFail = "fail")
    val e = the[IllegalStateException] thrownBy
      Pipeline.run(s"$base/bad.json", Map.empty, spark)
    e.getMessage should include("in_range(doc_id)")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/out_bad")) shouldBe false

    // on_fail=warn logs and proceeds
    recipe(s"$base/warn.json", s"$base/out_warn", lo = 500L, onFail = "warn")
    Pipeline.run(s"$base/warn.json", Map.empty, spark)
    spark.read.parquet(s"$base/out_warn").count() should be > 0L
  }

  it should "z-order the pipeline output when the recipe asks for a layout" in {
    val base = tmp()
    // two numeric columns with independent variation so locality is
    // measurable on both
    val n = 4096
    spark.range(n).selectExpr("id AS doc_id", "id % 64 AS x",
        "CAST(id / 64 AS LONG) AS y",
        "concat('document text number ', id) AS text")
      .write.parquet(s"$base/in")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/recipe.json"),
      s"""{
         | "input": "$base/in", "output": "$base/out",
         | "id_col": "doc_id", "text_col": "text",
         | "layout": {"zorder": ["x", "y"], "files": 16, "bits": 6},
         | "stages": [ {"op": "dedup_exact"} ]
         |}""".stripMargin.getBytes("UTF-8"))
    Pipeline.run(s"$base/recipe.json", Map.empty, spark)
    val out = spark.read.parquet(s"$base/out")
    out.count() shouldBe n.toLong // content preserved
    out.columns.sorted shouldBe Array("doc_id", "text", "x", "y")
    val spans = graft.ext.Layout.fileSpanStats(spark, s"$base/out", Seq("x", "y"))
      .select("mean_span_x", "mean_span_y").as[(Double, Double)].head()
    spans._1 should be < 0.5
    spans._2 should be < 0.5
    // the audit artifact still lands next to the clustered output
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/out/_stages.json")) shouldBe true
  }

  it should "run heavyWords and bpeTokenize end to end" in {
    val base = tmp()
    Seq((1L, "alpha alpha alpha beta"), (2L, "alpha gamma delta beta"))
      .toDF("id", "text").write.parquet(s"$base/in")
    Graft.run(Seq("heavyWords", s"--input=$base/in",
      s"--output=$base/hw", "--min-freq-ppm=300000"), spark)
    spark.read.parquet(s"$base/hw").as[(String, Long)].collect().sorted shouldBe
      Array(("alpha", 4L))
    Graft.run(Seq("bpeTokenize", s"--input=$base/in", s"--output=$base/toks",
      "--num-merges=20", s"--merges-output=$base/merges", "--count-only"), spark)
    val out = spark.read.parquet(s"$base/toks")
    out.columns.toSeq shouldBe Seq("id", "text", "n_bpe_tokens")
    // "alpha" seen 4x -> single token; doc 1 = alpha,alpha,alpha,beta
    out.filter(out("id") === 1L).select("n_bpe_tokens").as[Long].head() shouldBe 4L
    spark.read.parquet(s"$base/merges").columns.toSeq shouldBe
      Seq("rank", "left", "right")
  }

  it should "round-trip csv input and output modes" in {
    val base = tmp()
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
      .write.option("header", "true").csv(s"$base/in")
    Graft.run(Seq("heavyWords", s"--input=$base/in", "--input-mode=csv",
      s"--output=$base/out", "--output-mode=csv", "--min-freq-ppm=1"), spark)
    val out = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$base/out")
    out.count() shouldBe 4L // every word appears once of 4 = 250000 ppm >= 1
    // non-atomic columns refuse csv output with a clear message
    Seq((1L, "a b")).toDF("id", "text").write.parquet(s"$base/in2")
    an[IllegalArgumentException] should be thrownBy
      Graft.run(Seq("bpeTokenize", s"--input=$base/in2",
        s"--output=$base/toks", "--num-merges=5", "--output-mode=csv"), spark)
  }

  it should "clean text with normalization and optional redaction" in {
    val base = tmp()
    Seq((1L, "cafe\u0301 contact: a@b.co now\u0007!"))
      .toDF("id", "text").write.parquet(s"$base/in")
    Graft.run(Seq("clean", s"--input=$base/in", s"--output=$base/out",
      "--redact"), spark)
    val cleaned = spark.read.parquet(s"$base/out")
      .select("text").as[String].head()
    cleaned shouldBe "caf\u00e9 contact: <EMAIL> now!"
  }

  it should "convert between formats with projection and restriction" in {
    val base = tmp()
    Seq((1L, "alpha", 10.0), (2L, "beta", 20.0), (3L, "gamma", 30.0))
      .toDF("id", "name", "score").write.parquet(s"$base/in")
    Graft.run(Seq("convert", s"--input=$base/in", s"--output=$base/out",
      "--output-mode=json", "--columns=id,name",
      "--row-restriction=id >= 2"), spark)
    val out = graft.sources.GraftIO.readJsonLines(spark, s"$base/out")
    out.columns.sorted.toSeq shouldBe Seq("id", "name")
    out.count() shouldBe 2L
    // and back: json -> avro roundtrip preserves the rows
    Graft.run(Seq("convert", s"--input=$base/out", "--input-mode=json",
      s"--output=$base/back", "--output-mode=avro"), spark)
    graft.sources.AvroIO.read(spark, s"$base/back").count() shouldBe 2L
    // orc roundtrip with partitioning: values and schema survive
    Graft.run(Seq("convert", s"--input=$base/in", s"--output=$base/orc",
      "--output-mode=orc", "--partition-by=name"), spark)
    val orc = spark.read.orc(s"$base/orc")
    orc.count() shouldBe 3L
    orc.columns.sorted.toSeq shouldBe Seq("id", "name", "score")
    Graft.run(Seq("convert", s"--input=$base/orc", "--input-mode=orc",
      s"--output=$base/orcback"), spark)
    spark.read.parquet(s"$base/orcback")
      .agg(org.apache.spark.sql.functions.sum("score")).head().getDouble(0) shouldBe 60.0
  }

  it should "skip a completed semDedup and bpeTokenize before any Spark job" in {
    val base = tmp()
    val rnd = new scala.util.Random(3)
    (0L until 12L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat), s"doc $i text"))
      .toDF("id", "embedding", "text").write.parquet(s"$base/in")
    val commands = Seq(
      Seq("semDedup", s"--input=$base/in", s"--output=$base/kept",
        "--id-col=id", "--vec-col=embedding", "--k=2"),
      Seq("bpeTokenize", s"--input=$base/in", s"--output=$base/toks",
        "--num-merges=5", s"--merges-output=$base/merges"))
    commands.foreach { args =>
      jobsOf(Graft.run(args, spark))._2 should be > 0
      withClue(s"${args.head} rerun: ") { jobsOf(Graft.run(args, spark))._2 shouldBe 0 }
    }
    // bpeTokenize is complete only when its merges output is too
    Graft.run(Seq("bpeTokenize", s"--input=$base/in", s"--output=$base/toks",
      "--num-merges=5", s"--merges-output=$base/merges2"), spark)
    spark.read.parquet(s"$base/merges2").count() shouldBe
      spark.read.parquet(s"$base/merges").count()
  }

  it should "run the same jobs with audit on and off" in {
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.write.parquet(s"$base/in")
    def recipe(name: String, audit: Boolean): String = {
      val p = s"$base/$name.json"
      Files.write(java.nio.file.Paths.get(p),
        s"""{"input": "$base/in", "output": "$base/$name", "audit": $audit,
           | "stages": [{"op": "normalize"},
           |            {"op": "filter", "predicate": "doc_id % 3 = 0"}]}"""
          .stripMargin.getBytes("UTF-8"))
      p
    }
    val (stats, audited) = jobsOf(Pipeline.run(recipe("a", audit = true), Map.empty, spark))
    val (plainStats, plain) = jobsOf(Pipeline.run(recipe("p", audit = false), Map.empty, spark))
    // one plan: audit only decides whether _stages.json is written, and
    // the counts ride the output write's own job
    audited shouldBe plain
    plain shouldBe 1
    val n = docs.count()
    val rows = Seq(("normalize", n, n), ("filter", n, docs.filter("doc_id % 3 = 0").count()))
    stats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe rows
    plainStats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe rows
    spark.read.parquet(s"$base/a").count() shouldBe stats.last.rowsOut
    Files.exists(java.nio.file.Paths.get(s"$base/p/_stages.json")) shouldBe false
  }

  it should "name a missing required flag of corpusReport and dedupReport" in {
    Seq("corpusReport", "dedupReport").foreach { cmd =>
      the[IllegalArgumentException] thrownBy
        Graft.run(Seq(cmd, "--output=/nonexistent/out"), spark) should have message
        "missing required --input"
      the[IllegalArgumentException] thrownBy
        Graft.run(Seq(cmd, "--input=/nonexistent/in"), spark) should have message
        "missing required --output"
    }
  }

  it should "reject unknown commands and missing flags with clear errors" in {
    the[IllegalArgumentException] thrownBy
      Graft.run(Seq("frobnicate"), spark) should have message
      "usage: graft <bigDiffy|bigSampler|directSampler|corpusReport|" +
        "dedupReport|gopherFilter|semDedup|dsirScore|trainOrder|" +
        "heavyWords|bpeTokenize|clean|convert|profile|compact|cluster|" +
        "index|search|pipeline> [flags]; got Some(frobnicate)"
    an[IllegalArgumentException] should be thrownBy
      Graft.run(Seq("bigSampler", "--input=/x"), spark)
  }

  it should "run semDedup in dedup and audit modes" in {
    val base = tmp()
    val rnd = new scala.util.Random(5)
    val dirA = Array.fill(8)(rnd.nextGaussian().toFloat)
    val dirB = Array.fill(8)(rnd.nextGaussian().toFloat)
    // BLOCK layout (ids 0-5 direction A, 6-11 direction B) so the strided
    // training sample's partition heads see both directions
    val rows = (0L until 12L).map { i =>
      val d = if (i < 6) dirA else dirB
      (i, d.map(x => x * (1f + (i % 6) * 0.3f) +
        rnd.nextGaussian().toFloat * 0.01f).toSeq)
    }
    rows.toDF("vec_id", "embedding").write.parquet(s"$base/in")
    Graft.run(Seq("semDedup", s"--input=$base/in", s"--output=$base/kept",
      "--id-col=vec_id", "--vec-col=embedding", "--k=2", "--tau=0.98"), spark)
    val kept = spark.read.parquet(s"$base/kept")
    kept.columns.toSeq shouldBe Seq("vec_id", "embedding")
    kept.select("vec_id").as[Long].collect().sorted shouldBe Array(0L, 6L)
    Graft.run(Seq("semDedup", s"--input=$base/in", s"--output=$base/audit",
      "--id-col=vec_id", "--vec-col=embedding", "--k=2", "--tau=0.98",
      "--assignments-only"), spark)
    spark.read.parquet(s"$base/audit").count() shouldBe 12L
  }

  it should "run dsirScore in score and select modes" in {
    val base = tmp()
    Seq((0L, "model training gradient", "en"),
      (1L, "training model descent", "en"),
      (2L, "butter salt recipe", "de"),
      (3L, "salt butter oven", "de"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$base/in")
    Graft.run(Seq("dsirScore", s"--input=$base/in", s"--output=$base/scores",
      "--id-col=doc_id", "--target=lang = 'en'", "--exact"), spark)
    val scores = spark.read.parquet(s"$base/scores")
    scores.columns.toSeq shouldBe Seq("id", "n_tokens", "imp_logratio")
    scores.count() shouldBe 4L
    Graft.run(Seq("dsirScore", s"--input=$base/in", s"--output=$base/sel",
      "--id-col=doc_id", "--target=\"lang = 'en'\"", "--top-fraction=0.5",
      "--temperature=1e-9"), spark)
    val sel = spark.read.parquet(s"$base/sel")
    // T→0 keeps the highest-importance half: the english docs
    sel.select("doc_id").as[Long].collect().sorted shouldBe Array(0L, 1L)
    sel.columns should contain("text") // original schema + score ride along
  }

  it should "run trainOrder writing directory-per-shard sorted by order key" in {
    val base = tmp()
    (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      .write.parquet(s"$base/in")
    Graft.run(Seq("trainOrder", s"--input=$base/in", s"--output=$base/out",
      "--key=doc_id", "--salt=ep0", "--shards=4"), spark)
    val dirs = new java.io.File(s"$base/out").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    dirs shouldBe Array("shard=0", "shard=1", "shard=2", "shard=3")
    val all = spark.read.parquet(s"$base/out")
    all.count() shouldBe 200L
    // within a shard directory the row groups are in order-key order
    val s0 = spark.read.parquet(s"$base/out/shard=0")
      .select("order_key").as[String].collect()
    s0.sorted.toSeq shouldBe s0.toSeq
  }

  it should "diff protobuf wire files end-to-end from a .proto schema" in {
    val base = tmp()
    // the user's schema file — the CLI needs nothing precompiled
    val protoFile = s"$base/rec.proto"
    Files.writeString(java.nio.file.Paths.get(protoFile),
      """syntax = "proto2";
        |message Rec {
        |  required int64 k = 1;
        |  optional double v = 2;
        |  repeated string tags = 3;
        |}
        |""".stripMargin)
    val mode = s"proto:$protoFile:Rec"
    val l = Seq((1L, 1.0, Seq("a")), (2L, 2.0, Seq("b", "c")))
      .toDF("k", "v", "tags")
    val r = Seq((1L, 1.5, Seq("a")), (3L, 3.0, Seq.empty[String]))
      .toDF("k", "v", "tags")
    // write both sides AS WIRE FILES through the CLI writer...
    Graft.write(l, s"$base/lhs", mode)
    Graft.write(r, s"$base/rhs", mode)
    // ...then scan + diff them through the CLI reader
    Graft.run(Seq("bigDiffy", s"--lhs=$base/lhs", s"--rhs=$base/rhs",
      "--key=k", s"--input-mode=$mode", s"--output=$base/out"), spark)
    val global = spark.read.option("header", "true").option("sep", "\t")
      .csv(s"$base/out/global").head()
    global.getString(0) shouldBe "3" // num_total: keys 1, 2, 3
    // and the raw scan round-trips value-exact
    val back = Graft.read(spark, s"$base/lhs", mode)
    back.orderBy("k").collect().map(r0 =>
      (r0.getLong(0), r0.getDouble(1), r0.getSeq[String](2).toList)) shouldBe
      Array((1L, 1.0, List("a")), (2L, 2.0, List("b", "c")))
  }

  behavior of "CaseClassDiffy"

  it should "diff typed Datasets through the generic differ" in {
    val l = Seq(CliRec(1, 1.0, "a"), CliRec(2, 2.0, "b")).toDS()
    val r = Seq(CliRec(1, 3.0, "a"), CliRec(2, 2.0, "b")).toDS()
    val d = CaseClassDiffy.diffDatasets(l, r, Seq("k")).deltas.head()
    (d.getString(1), d.getDouble(5)) shouldBe (("v", 2.0))
  }

  behavior of "schema merge"

  it should "union fields, widen numerics, and recurse into structs" in {
    val l = StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("s", StructType(Seq(StructField("x", FloatType))), nullable = false),
      StructField("only_l", StringType)))
    val r = StructType(Seq(
      StructField("a", LongType, nullable = true),
      StructField("s", StructType(Seq(StructField("x", DoubleType),
        StructField("y", StringType))), nullable = false),
      StructField("only_r", BooleanType)))
    val m = SchemaPaths.mergeSchemas(l, r)
    m.fieldNames.toSeq shouldBe Seq("a", "s", "only_l", "only_r")
    m("a").dataType shouldBe LongType
    m("a").nullable shouldBe true
    m("s").dataType.asInstanceOf[StructType]("x").dataType shouldBe DoubleType
    an[IllegalArgumentException] should be thrownBy
      SchemaPaths.mergeSchemas(
        StructType(Seq(StructField("a", StringType))),
        StructType(Seq(StructField("a", BooleanType))))
  }

  it should "select the reader-compatible side" in {
    val wide = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType, nullable = true)))
    val narrow = StructType(Seq(StructField("a", IntegerType)))
    SchemaPaths.compatSchema(wide, narrow) shouldBe wide
    SchemaPaths.compatSchema(narrow, wide) shouldBe wide
  }
}
