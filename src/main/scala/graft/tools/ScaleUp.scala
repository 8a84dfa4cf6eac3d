package graft.tools

import graft.sources.GraftIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an sf1-scale copy of the driver testdata by concatenating a
  * source scale factor `copies` times with referential-integrity-preserving
  * key offsets, so the full gate suite can be benchmarked at 10× the
  * largest driver-provided SF (the sf1 validation the round verdicts ask
  * for). Writes to a target directory OUTSIDE the read-only testdata tree.
  *
  * {{{ sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10" }}}
  *
  * Shape choices (what "realistic 10×" means here):
  *   - dims (`region`, `nation`) stay single-copy — like a real warehouse;
  *   - every fact key is offset by copyIdx × (max+1), and every foreign key
  *     by ITS parent's offset, so joins fan out exactly as at 1×;
  *   - `documents.text` is perturbed per copy with a consonant rotation
  *     (`translate`) — distinct content, same length/token statistics, so
  *     dedup/minhash workloads scale by corpus size instead of degenerating
  *     into 10-cliques of byte-identical copies;
  *   - `embeddings.embedding` is rotated by copyIdx positions — same norm
  *     and coordinate distribution, decorrelated content, so ANN workloads
  *     see 10× genuinely distinct vectors;
  *   - `events` keeps its time range (10× users ⇒ 10× density, constant
  *     per-user session shape — the scaling a bigger user base produces).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // perturbation mode: "rotate" (default — the cipher/rotation scheme
    // below) or "tag" for a SECOND hop over rotate-mode output. Rotations
    // compose additively (rotation i of rotation j = rotation i+j), so
    // stacking this tool twice in rotate mode emits byte-identical text
    // and embedding copies wherever i+j collides — the degenerate clique
    // structure the perturbation exists to avoid. Tag mode perturbs along
    // INDEPENDENT axes (rotating a second, disjoint consonant alphabet in
    // text; a per-copy hash-parity sign pattern on embeddings), which
    // compose with rotations collision-free:
    // sf0.1 --rotate--> sf1 --tag--> sf10.
    val mode = if (args.length > 3) args(3) else "rotate"
    require(mode == "rotate" || mode == "tag", s"unknown mode: $mode")
    // the text cipher has 10 distinct rotations and the embedding rotation
    // needs copyIdx < dim; past 10 copies the copy-0 content would repeat
    // byte-identically, reintroducing the degenerate clique structure this
    // tool exists to avoid — run twice with different sources instead
    require(copies >= 1 && copies <= 10,
      s"copies must be in [1,10] (got $copies): rotation-based perturbation " +
        "repeats past 10 and would emit byte-identical duplicate copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // write timestamps as annotated INT64 MICROS like the driver's
      // testdata — Spark's INT96 default has no unit annotation and the
      // unit-aware reader (readParquetTsAsMicros) rightly refuses it
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = GraftIO.readParquet(spark, s"$src/$name.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(coalesce(max(col(key)) + 1, lit(0L))).first().getLong(0)

    /** `copies` stacked copies of `df`, transformed per copy. */
    def stack(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${GraftIO.readParquet(spark, s"$dst/$name.parquet").count()} rows")
    }

    // dims — unchanged
    write(t("region"), "region")
    write(t("nation"), "nation")

    val customer = t("customer"); val custOff = off(customer, "c_custkey")
    write(stack(customer)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))), "customer")

    val supplier = t("supplier"); val suppOff = off(supplier, "s_suppkey")
    write(stack(supplier)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppOff))), "supplier")

    val part = t("part"); val partOff = off(part, "p_partkey")
    write(stack(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * partOff))), "part")

    val orders = t("orders"); val ordOff = off(orders, "o_orderkey")
    write(stack(orders)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
      .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))), "orders")

    write(stack(t("lineitem"))((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))
      .withColumn("l_partkey", col("l_partkey") + lit(i * partOff))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppOff))), "lineitem")

    // unit-aware events read (the driver has already flipped the parquet
    // timestamp unit once, NANOS→MICROS — a plain read would reject NANOS);
    // re-emit as a MICROS timestamp so the output schema is stable
    // whatever unit the source carried
    val events = graft.sources.GraftIO
      .readParquetTsAsMicros(spark, s"$src/events.parquet")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val evOff = off(events, "event_id"); val userOff = off(events, "user_id")
    write(stack(events)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * evOff))
      .withColumn("user_id", col("user_id") + lit(i * userOff))), "events")

    // distinct text per copy: rotate a 10-consonant alphabet by copyIdx —
    // a content-preserving cipher (same length, same token boundaries,
    // same symbol/stopword profile is NOT preserved for i>0, which is
    // fine: only copy 0 feeds correctness gates; the rest add bulk)
    val docs = t("documents"); val docOff = off(docs, "doc_id")
    val consonants = "bcdfghjklm"
    write(stack(docs)((d, i) => {
      val rot = consonants.drop(i % 10) + consonants.take(i % 10)
      val perturbed =
        if (i == 0) col("text")
        else if (mode == "tag") {
          // rotate a SECOND, disjoint consonant alphabet: genuinely
          // decorrelates the shingle profile (a suffix tag measured
          // catastrophic — 7 appended chars leave jaccard ≈0.95, turning
          // every doc into a 10-clique of near-dups and inflating the
          // sf10 pair volume 100×), and composes with the first hop's
          // rotation collision-free because the alphabets are independent
          val alt = "npqrstvwxz"
          translate(col("text"), alt, alt.drop(i % 10) + alt.take(i % 10))
        } else translate(col("text"), consonants, rot)
      d.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", perturbed)
    }), "documents")

    // rotate the vector by copyIdx positions: same norm, decorrelated
    val emb = t("embeddings"); val vecOff = off(emb, "vec_id")
    write(stack(emb)((d, i) => {
      val perturbed =
        if (i == 0) col("embedding")
        else if (mode == "tag")
          // hash-parity sign pattern: flip ~half the coordinates, a
          // DIFFERENT pseudo-random half per copy — norm-preserving and
          // genuinely decorrelated (cos ≈ 0 against the original and every
          // other copy), composing collision-free with rotations. A
          // prefix-only flip measured cos ≈ 1 − 2i/dim ≈ 0.97 for copy 1
          // at dim 64 — planted cross-copy near-dup chains the source
          // corpus lacks, the exact fixture distortion tag mode exists to
          // avoid.
          expr(s"transform(embedding, (x, j) -> " +
            s"IF(pmod(hash(j, $i), 2) = 0, -x, x))")
        else concat(expr(s"slice(embedding, ${i + 1}, size(embedding) - $i)"),
          expr(s"slice(embedding, 1, $i)"))
      d.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", perturbed)
    }), "embeddings")

    spark.stop()
  }
}
