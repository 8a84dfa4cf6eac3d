package graft.ext

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing — the step between curation and the trainer: turn a
  * corpus of variable-length documents into fixed-length training
  * sequences.
  *
  * Two standard disciplines, both here:
  *
  *   - [[packSequences]] — concat-and-chunk (GPT-style pretraining):
  *     documents are laid end-to-end in a deterministic order and the
  *     resulting token stream is cut every `seqLen` tokens; a document
  *     may span sequences. Zero padding waste by construction. The
  *     output is the PACKING MAP (which token span of which doc lands
  *     in which sequence) — the narrow relation a tokenizer join
  *     materializes downstream; the map itself never carries text.
  *   - [[greedyPackWithinPartitions]] — whole-document next-fit binning
  *     (SFT-style: examples must not split). Bins are packed within
  *     range partitions, so packing is embarrassingly parallel and no
  *     partition's state leaves its task.
  *
  * Engine extension (100 TB training-data surface): the reference has no
  * packing operator; the scale discipline (bounded window partitions via
  * a driver-held per-partition prefix table) follows the same shape as
  * the exact sampler's range buckets (BigSampler.exactRank).
  */
object Pack {

  /** Concat-and-chunk packing map. Documents ordered by `orderCols`
    * (MUST be a total order — ties would make offsets nondeterministic;
    * a unique id column is the usual choice) are laid end-to-end;
    * sequence `s` owns the half-open token range
    * `[s * seqLen, (s+1) * seqLen)` of the concatenated stream.
    *
    * Output: one row per (document, sequence) overlap —
    *   - `seq_id`: 0-based sequence index (long);
    *   - `start_in_doc`: first token of the doc's span in this sequence;
    *   - `start_in_seq`: where that span begins inside the sequence;
    *   - `span_len`: token count of the span (>= 1).
    * Rows with a null or non-positive `tokenCol` occupy no tokens and
    * emit nothing.
    *
    * Scale shape: the global running offset is an exclusive prefix sum
    * computed WITHOUT a single-partition window — range-partition by
    * `orderCols`, per-partition token totals (one tiny aggregate:
    * #partitions rows) to the driver, cumulate there, broadcast back,
    * and add a per-partition window's local prefix. Every window
    * partition is one range partition, so no task ever sees more than
    * `corpus / #partitions` rows. The only shuffled relation is the
    * `(id, tokens, order)` projection — never text. The emitted span
    * arithmetic is pure codegen'd expressions on longs.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    seqLen: Long, orderCols: Seq[String] = Seq.empty,
                    numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val spark = df.sparkSession
    val ord = if (orderCols.nonEmpty) orderCols else Seq(idCol)
    val nParts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val tok = col(tokenCol).cast("long")
    // PINNED (Pin.eager): the per-partition totals below and
    // the final pass must see the SAME physical partitioning, and
    // repartitionByRange re-SAMPLES its boundaries on every evaluation —
    // at small SFs the two samplings happened to coincide, but the sf1
    // oracle run caught offsets computed for one partitioning applied to
    // another (globally inconsistent sequence ids; span mass preserved,
    // order broken). The pinned projection is (id, order, token) only —
    // a few dozen bytes per document, not the corpus.
    val proj = Pin.eager(df.select((idCol +: ord).distinct.map(col) :+ tok.as("__tok"): _*)
      .filter(col("__tok").isNotNull && col("__tok") > 0)
      .repartitionByRange(nParts, ord.map(col): _*)
      .withColumn("__pid", spark_partition_id()))

    // per-partition totals: #partitions rows to the driver, cumulated
    // into EXCLUSIVE per-partition offsets, broadcast back
    val totals = proj.groupBy("__pid").agg(sum("__tok").as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val prefix = totals.map { case (p, t) => val r = (p, acc); acc += t; r }
    import spark.implicits._
    val prefixDf = broadcast(prefix.toSeq.toDF("__pid", "__poff"))

    // local exclusive prefix inside each range partition; window
    // partitions == range partitions, bounded by construction
    val w = Window.partitionBy("__pid")
      .orderBy(ord.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = proj
      .withColumn("__loff", coalesce(sum(col("__tok")).over(w), lit(0L)))
      .join(prefixDf, "__pid")
      .withColumn("__off", col("__poff") + col("__loff"))

    // the doc [__off, __off + __tok) overlaps sequences
    // [__off / L, (__off + __tok - 1) / L]; emit one span per sequence
    val L = lit(seqLen)
    val seqIds = sequence(floor(col("__off") / L).cast("long"),
      floor((col("__off") + col("__tok") - 1) / L).cast("long"))
    off.select(col(idCol), col("__off"), col("__tok"),
        explode(seqIds).as("seq_id"))
      .select(
        col(idCol),
        col("seq_id"),
        greatest(col("seq_id") * L - col("__off"), lit(0L)).as("start_in_doc"),
        greatest(col("__off") - col("seq_id") * L, lit(0L)).as("start_in_seq"),
        (least((col("seq_id") + 1) * L, col("__off") + col("__tok")) -
          greatest(col("seq_id") * L, col("__off"))).as("span_len"))
  }

  /** Whole-document next-fit bin packing (no document ever splits):
    * scan documents in `orderCols` order within each range partition,
    * close the current bin whenever the next document would push it past
    * `binCapacity`, and start the next. A document alone larger than the
    * capacity gets a bin of its own (the trainer's truncation problem,
    * not the packer's — flagged via `over_capacity`).
    *
    * `bin_id` is globally unique (`partition << 32 | local bin index`)
    * and bins never cross partitions, so packing state is strictly
    * task-local — the parallel form of the sequential next-fit every
    * SFT pipeline runs, at the cost of at most one under-filled bin per
    * partition boundary. Within a partition the assignment is exactly
    * sequential next-fit in `orderCols` order; the partition BOUNDARIES
    * come from range-partitioner sampling, so which docs share a
    * partition (hence bin numbering) is stable for a given input but
    * not a cross-engine contract — invariants (capacity, coverage,
    * contiguity) are the testable surface, and the spec pins them.
    *
    * This is the one mapPartitions operator in the packing surface: the
    * running bin fill is genuinely sequential per-partition state that
    * no window frame expresses (bin assignment depends recursively on
    * all previous assignments, not on a prefix aggregate).
    */
  def greedyPackWithinPartitions(df: DataFrame, idCol: String,
                                 tokenCol: String, binCapacity: Long,
                                 orderCols: Seq[String] = Seq.empty,
                                 numPartitions: Int = 0): DataFrame = {
    require(binCapacity > 0, s"binCapacity must be positive, got $binCapacity")
    val spark = df.sparkSession
    val ord = if (orderCols.nonEmpty) orderCols else Seq(idCol)
    val nParts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val proj = df.select((idCol +: ord).distinct.map(col) :+
        col(tokenCol).cast("long").as("__tok"): _*)
      .filter(col("__tok").isNotNull && col("__tok") > 0)
      .repartitionByRange(nParts, ord.map(col): _*)
      .sortWithinPartitions(ord.map(col): _*)
    val outSchema = proj.schema
      .add("bin_id", LongType, nullable = false)
      .add("bin_fill", LongType, nullable = false)
    val tokIdx = proj.schema.fieldIndex("__tok")
    val packed = proj.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var bin = 0L; var fill = 0L; var open = false
      rows.map { r =>
        val t = r.getLong(tokIdx)
        if (open && fill + t > binCapacity) { bin += 1; fill = 0L }
        open = true; fill += t
        Row.fromSeq(r.toSeq :+ ((pid << 32) | bin) :+ fill)
      }
    }(Encoders.row(outSchema))
    packed.select(col(idCol), col("__tok").as("n_tokens"), col("bin_id"),
      col("bin_fill"), (col("__tok") > binCapacity).as("over_capacity"))
  }
}
