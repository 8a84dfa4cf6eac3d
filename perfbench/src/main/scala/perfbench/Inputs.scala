package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every input is a pure function of (seed, size)
  * and is written under `<work>/gen/v<Version>/...`. Ground truth is
  * planted here, by the benchmark, never derived from the program under
  * test. */
object Inputs {
  /** Bump when any generator changes so stale caches are not reused. */
  val Version = 4

  /** The seed of the inputs every seed shares (the lineitem table, the
    * index base). */
  val TableSeed = 0L

  /** Runs `write` into a fresh `dir` and returns the seconds it took.
    * Seeded inputs are regenerated on every run, never reused: generation
    * runs the JVM's first, JIT-cold Spark jobs, and a cache hit would move
    * that cost from `gen_s` into `setup_s`. */
  def regenerate(dir: String)(write: => Unit): Double = {
    val t0 = System.nanoTime()
    Fs.delete(dir)
    Files.createDirectories(Paths.get(dir))
    write
    (System.nanoTime() - t0) / 1e9
  }

  /** [[regenerate]], unless a previous run completed `dir` (0 s then). For
    * inputs every seed shares, generated once per checkout. */
  def cached(dir: String)(write: => Unit): Double = {
    val done = Paths.get(dir, "_GENERATED")
    if (Files.exists(done)) 0.0
    else {
      val s = regenerate(dir)(write)
      Files.write(done, Array.emptyByteArray)
      s
    }
  }

  def writeParquet(df: DataFrame, path: String, files: Int): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(path)

  // ---- lineitem ---------------------------------------------------------

  val ShipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val CommentWords = Seq("carefully", "final", "deposits", "furiously",
    "regular", "accounts", "quickly", "ironic", "packages", "blithely",
    "express", "requests", "slyly", "pending", "theodolites", "bold")

  /** TPC-H-shaped lineitem with a unique surrogate key `l_key` (the
    * natural key (l_orderkey, l_linenumber) is not unique in TPC-H data).
    * Every column is a hash of (seed, salt, l_key), so a seed fixes the
    * table. (l_returnflag, l_linestatus) follow TPC-H's four strata:
    * A/F 25%, N/F 2.5%, N/O 50%, R/F 22.5%. */
  def lineitem(spark: SparkSession, rows: Long, seed: Long,
               firstKey: Long = 0L): DataFrame = {
    def h(salt: Int) = xxhash64(lit(seed), lit(salt), col("id"))
    def pick(salt: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pmod(h(salt), lit(xs.size.toLong)) + 1).cast("int"))
    val strata = pmod(h(7), lit(1000L))
    spark.range(firstKey, firstKey + rows).select(
      col("id").as("l_key"),
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h(1), lit(200000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(10000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h(4), lit(10000000L)).cast("double") / 100 + 900).as("l_extendedprice"),
      (pmod(h(5), lit(11L)).cast("double") / 100).as("l_discount"),
      (pmod(h(6), lit(9L)).cast("double") / 100).as("l_tax"),
      when(strata < 250, "A").when(strata < 275, "N").when(strata < 775, "N")
        .otherwise("R").as("l_returnflag"),
      when(strata < 250, "F").when(strata < 275, "F").when(strata < 775, "O")
        .otherwise("F").as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), pmod(h(8), lit(2526L)).cast("int"))
        .cast("string").as("l_shipdate"),
      pick(9, ShipModes).as("l_shipmode"),
      concat_ws(" ", pick(10, CommentWords), pick(11, CommentWords),
        pick(12, CommentWords)).as("l_comment"))
  }

  /** Diff classes planted on the right-hand copy, by a seeded per-key dice
    * in [0, 1000): each class changes exactly the fields listed. */
  val DiffClasses: Seq[(String, Int, Int, Seq[String])] = Seq(
    ("missing_rhs", 0, 5, Nil),
    ("quantity", 5, 15, Seq("l_quantity")),
    ("shipmode", 15, 20, Seq("l_shipmode")),
    ("comment", 20, 30, Seq("l_comment")),
    ("price_tax", 30, 35, Seq("l_extendedprice", "l_tax")))

  /** The right-hand side of the diff: `lhs` minus the missing_rhs rows,
    * with the planted field changes, plus `extra` rows whose keys the
    * left side lacks. Also returns the planted class and the
    * (l_returnflag, l_linestatus) stratum of every lhs row. */
  def perturb(lhs: DataFrame, seed: Long, extra: DataFrame): (DataFrame, DataFrame) = {
    val dice = pmod(xxhash64(lit(seed), lit(20), col("l_key")), lit(1000L))
    def in(cls: String) = DiffClasses.find(_._1 == cls).map { case (_, lo, hi, _) =>
      dice >= lo && dice < hi }.get
    val modes = array(ShipModes.map(lit): _*)
    val rhs = lhs.filter(!in("missing_rhs"))
      .withColumn("l_quantity", when(in("quantity"), col("l_quantity") + 1)
        .otherwise(col("l_quantity")))
      .withColumn("l_shipmode", when(in("shipmode"),
        element_at(modes, (pmod(array_position(modes, col("l_shipmode")), lit(7L)) + 1)
          .cast("int"))).otherwise(col("l_shipmode")))
      .withColumn("l_comment", when(in("comment"), concat(col("l_comment"), lit(" x")))
        .otherwise(col("l_comment")))
      .withColumn("l_extendedprice", when(in("price_tax"), col("l_extendedprice") + 1)
        .otherwise(col("l_extendedprice")))
      .withColumn("l_tax", when(in("price_tax"), col("l_tax") + 0.01)
        .otherwise(col("l_tax")))
      .unionByName(extra)
    val cls = DiffClasses.foldRight(lit("same")) { case ((name, lo, hi, _), acc) =>
      when(dice >= lo && dice < hi, name).otherwise(acc) }
    (rhs, lhs.select(cls.as("cls"),
      concat_ws("_", col("l_returnflag"), col("l_linestatus")).as("stratum")))
  }

  // ---- text -------------------------------------------------------------

  val Stopwords = Seq("the", "and", "of", "to", "that", "with", "be", "have")

  /** Seeded prose: words of 3-9 letters from a fixed vocabulary, about one
    * in six a Gopher stopword, sentences of 8-14 words. Two documents from
    * different draws share no 50-character window in practice. The
    * vocabulary comes from `vocabSeed`, the draws from `seed`, so prose of
    * two seeds can share one vocabulary. */
  final class Prose(seed: Long, vocabSeed: Long) {
    def this(seed: Long) = this(seed, seed)
    val rnd = new scala.util.Random(seed)
    private val consonants = "bcdfghjklmnprstvwz"
    private val vowels = "aeiou"
    private def word(len: Int, r: scala.util.Random = rnd): String =
      (0 until len).map(i => if (i % 2 == 0) consonants(r.nextInt(consonants.length))
        else vowels(r.nextInt(vowels.length))).mkString
    val vocab: Array[String] = {
      val r = if (vocabSeed == seed) rnd else new scala.util.Random(vocabSeed)
      Array.fill(4000)(word(3 + r.nextInt(7), r))
    }

    def words(n: Int): Array[String] = Array.tabulate(n) { _ =>
      if (rnd.nextInt(6) == 0) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(rnd.nextInt(vocab.length))
    }

    def sentences(ws: Array[String]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < ws.length) {
        val n = math.min(8 + rnd.nextInt(7), ws.length - i)
        sb.append(ws.slice(i, i + n).mkString(" ")).append(". ")
        i += n
      }
      sb.toString.trim
    }

    def doc(minWords: Int, maxWords: Int): String =
      sentences(words(minWords + rnd.nextInt(maxWords - minWords + 1)))

    /** `text` with two words replaced: shingle-Jaccard stays above 0.85
      * for documents of 60 words or more. */
    def nearCopy(text: String): String = {
      val ws = text.split(" ")
      (0 until 2).foreach { _ =>
        val i = rnd.nextInt(ws.length)
        ws(i) = vocab(rnd.nextInt(vocab.length)) + (if (ws(i).endsWith(".")) "." else "")
      }
      ws.mkString(" ")
    }

    /** A token no vocabulary word can equal (vocabulary words start with a
      * consonant from a list without 'q'). */
    def marker(i: Int): String = "q" + word(6) + i
  }

  // ---- curation corpus ----------------------------------------------------

  /** A curation corpus of `n` docs: clean originals (ids first), exact and
    * near copies of distinct originals, contaminated docs holding a
    * benchmark passage, non-English docs, too-short docs and docs made of
    * one repeated line. Only the clean originals should reach the output
    * of the recipe in [[Workloads.Curation]]. */
  final case class Corpus(docs: Seq[(Long, String, String)], bench: Seq[String],
                          cleanIds: Set[Long], contaminatedIds: Set[Long])

  def corpus(n: Int, seed: Long): Corpus = {
    val p = new Prose(seed)
    val k = math.max(1, n / 20)
    val m = math.max(1, n / 50)
    val nClean = n - 2 * k - 4 * m
    require(nClean > 2 * k, s"corpus of $n docs is too small")
    val clean = (0 until nClean).map(i => (i.toLong, "en", p.doc(60, 90)))
    var next = nClean.toLong
    def id(): Long = { val i = next; next += 1; i }
    val exact = (0 until k).map(i => (id(), "en", clean(i)._3))
    val near = (k until 2 * k).map(i => (id(), "en", p.nearCopy(clean(i)._3)))
    val bench = (0 until 3 * m).map(_ => p.doc(20, 30))
    val contaminated = (0 until m).map { i =>
      val body = p.doc(60, 80)
      (id(), "en", body + " " + bench(i))
    }
    val german = (0 until m).map(_ => (id(), "de", p.doc(60, 90)))
    val short = (0 until m).map(_ => (id(), "en", p.doc(15, 30)))
    val repeated = (0 until m).map { _ =>
      val line = p.doc(12, 14)
      (id(), "en", Seq.fill(6)(line).mkString("\n"))
    }
    Corpus(clean ++ exact ++ near ++ contaminated ++ german ++ short ++ repeated,
      bench, clean.map(_._1).toSet, contaminated.map(_._1).toSet)
  }

  // ---- index corpus -------------------------------------------------------

  val Dim = 16

  /** One incoming batch: exact copies and near copies of distinct base
    * docs (`copyOf`: new id -> base id), and novel docs. */
  final case class Batch(docs: Seq[(Long, String)], exactOf: Map[Long, Long],
                         nearOf: Map[Long, Long], novelIds: Set[Long])

  /** Text queries (marker token -> the one base doc holding it) and
    * vector queries (query id -> vector, the base id it perturbs). */
  final case class Cycle(batch: Batch, textQueries: Seq[(String, Long)],
                         vecQueries: Seq[(Long, Array[Float], Long)])

  /** The index base: docs, each holding its own marker token, and one
    * vector per doc. Like the lineitem table it does not depend on the
    * seed, so it and the indexes built from it are made once per size. */
  final case class IndexBase(docs: Seq[(Long, String)], markers: Seq[String],
                             vectors: Seq[(Long, Array[Float])])

  def indexBase(docs: Int): IndexBase = {
    val p = new Prose(TableSeed)
    val markers = (0 until docs).map(p.marker)
    val texts = (0 until docs).map(i => (i.toLong, p.doc(60, 90) + " " + markers(i)))
    IndexBase(texts, markers,
      texts.map { case (i, _) => (i, Array.fill(Dim)(p.rnd.nextGaussian().toFloat)) })
  }

  /** The seeded cycles against `base`: each cycle's copy sources and text
    * targets are distinct base docs, in a seeded order. */
  def indexCycles(base: IndexBase, cycles: Int, batchDocs: Int, queries: Int,
                  seed: Long): Seq[Cycle] = {
    val p = new Prose(seed, TableSeed)
    val rnd = p.rnd
    val n = base.docs.size
    val quarter = batchDocs / 4
    val perCycle = queries + 2 * quarter
    require(n >= cycles * perCycle, "index base too small")
    val order = rnd.shuffle((0 until n).toVector)
    (0 until cycles).map { c =>
      val first = 1000000L + c * 100000L
      val (targets, sources) = order.slice(c * perCycle, (c + 1) * perCycle).splitAt(queries)
      val (exactSrc, nearSrc) = sources.splitAt(quarter)
      val exact = exactSrc.zipWithIndex.map { case (s, i) =>
        (first + i, base.docs(s)._2, s.toLong) }
      val near = nearSrc.zipWithIndex.map { case (s, i) =>
        (first + quarter + i, p.nearCopy(base.docs(s)._2), s.toLong) }
      val novel = (2 * quarter until batchDocs).map(i => (first + i, p.doc(60, 90)))
      val batch = Batch(exact.map(e => (e._1, e._2)) ++ near.map(e => (e._1, e._2)) ++ novel,
        exact.map(e => e._1 -> e._3).toMap, near.map(e => e._1 -> e._3).toMap,
        novel.map(_._1).toSet)
      val text = targets.map(i => (base.markers(i), i.toLong))
      val vecs = (0 until queries).map { q =>
        val src = rnd.nextInt(n)
        (2000000L + c * 1000L + q,
          base.vectors(src)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat), src.toLong)
      }
      Cycle(batch, text, vecs)
    }
  }
}

/** Local-filesystem helpers (every path the benchmark touches is local). */
object Fs {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Copies the directory tree `from` to a fresh `to`. */
  def copy(from: String, to: String): Unit = {
    delete(to)
    Files.createDirectories(Paths.get(to).getParent)
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach(f => Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString)))
    finally s.close()
  }

  /** Bytes of the data files under `path` (hidden and `_` files skipped). */
  def dataBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  def writeString(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def readString(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
}
