package graft.diffy

import graft.GraftFunctions.cosineDistance
import graft.core.SchemaPaths
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Options for a diff run, mirroring the reference's knobs:
  *   - `ignore`: field paths excluded from comparison (Diffy.scala:89)
  *   - `unordered`: array fields compared as multisets — both sides sorted
  *     by string rendering first (Diffy.scala:131-140 sorts by `toString`)
  *   - `unorderedFieldKeys`: array-of-struct fields matched by a subfield
  *     key instead of position (AvroDiffy.scala:99-115) — `field[key].sub`
  *     path labels
  *   - `ignoreNan`: drop NaN deltas from the stats aggregation
  *     (BigDiffy.scala:280-284)
  */
final case class DiffOptions(
    ignore: Set[String] = Set.empty,
    unordered: Set[String] = Set.empty,
    unorderedFieldKeys: Map[String, String] = Map.empty,
    ignoreNan: Boolean = false,
    /** Protobuf-style message presence (ProtoBufDiffy.scala:111-124): a
      * nested struct null on exactly ONE side yields a single UNKNOWN
      * delta at the struct's own path and its subtree is NOT descended;
      * null on both sides yields nothing. Off by default — the flat-leaf
      * behavior (a null struct compares leaf-by-leaf) matches the
      * reference's Avro/TableRow differs, where absent nested records
      * surface per-field. */
    messagePresence: Boolean = false)

/** Result of a diff: a cached per-key relation from which the reference's
  * three output views (BigDiffy.scala:148-191) derive lazily. Only the
  * views actually written trigger computation, matching the reference's
  * lazy `SCollection`s. */
final class DiffResult private[diffy] (private val keyed: DataFrame) {

  /** (key, field, left, right, delta_type, delta) — one row per differing
    * leaf field of each DIFFERENT key. */
  lazy val deltas: DataFrame =
    keyed.filter(col("diff_type") === "DIFFERENT")
      .select(col("key"), explode(col("__deltas")).as("d"))
      .select(col("key"), col("d.field").as("field"), col("d.left").as("left"),
        col("d.right").as("right"), col("d.delta_type").as("delta_type"),
        col("d.delta").as("delta"))

  /** (key, diff_type) for every key on either side. */
  lazy val keyStats: DataFrame = keyed.select(col("key"), col("diff_type"))

  /** Single-row global counters (reference GlobalStats, BigDiffy.scala:97-104). */
  lazy val globalStats: DataFrame =
    keyed.agg(BigDiffy.globalCounters.head, BigDiffy.globalCounters.tail: _*)

  /** Per-field delta statistics (reference FieldStats + DeltaStats,
    * BigDiffy.scala:106-145, 264-308): count, fraction = count / numDiff
    * (:304 — the DIFFERENT count, not the total), and the population
    * moments the reference gets from Algebird (`var_pop`/`stddev_pop`;
    * Spark's skewness/kurtosis are the same population/excess forms). */
  def fieldStats(ignoreNan: Boolean = false): DataFrame =
    BigDiffy.withFraction(
      perField(ignoreNan).crossJoin(broadcast(globalStats.select(col("num_diff")))),
      col("num_diff")).drop("num_diff")

  /** [[fieldStats]] before its `fraction` column: one row per differing
    * field. */
  private[diffy] def perField(ignoreNan: Boolean): DataFrame = {
    // ignoreNan drops NaN VALUES from the moments but keeps the field
    // occurrence count, matching the reference's computeGlobalAndFieldStats
    // (BigDiffy.scala:280-284); aggregates skip nulls, so masking NaN to
    // null removes it from min/max/moments only.
    val d = if (ignoreNan) when(!isnan(coalesce(col("delta"), lit(0.0))), col("delta"))
            else col("delta")
    // delta_type via min(): deterministic when a string field mixes NUMERIC
    // and STRING deltas across rows (`first` would be run-dependent)
    deltas.groupBy("field").agg(
      count(lit(1)).as("count"),
      min(col("delta_type")).as("delta_type"),
      min(d).as("min"), max(d).as("max"),
      avg(d).as("mean"), var_pop(d).as("variance"),
      stddev_pop(d).as("stddev"),
      skewness(d).as("skewness"), kurtosis(d).as("kurtosis"))
  }

  def unpersist(): Unit = keyed.unpersist()
}

/** Pairwise field-level diff of two datasets keyed by a (multi-)key — the
  * Spark-native BigDiffy (reference
  * ratatool-diffy/.../BigDiffy.scala:222-308).
  *
  * Architecture: instead of the reference's groupByKey + per-record
  * recursive `Diffy` closures, the schema is compiled ONCE (driver-side)
  * into per-leaf Catalyst delta expressions over a single full-outer join.
  * Everything after the join shuffle is narrow and codegen-eligible, and
  * Catalyst prunes ignored fields out of the scan entirely.
  *
  * Scale: the join is the only wide stage; enable AQE skew-join handling
  * for hot keys. The three stats views reuse one cached keyed relation;
  * [[saveStats]] writes all three in two passes over it (the key dump,
  * which also counts the global counters, and the per-field aggregate) —
  * the shape of the reference's single semigroup `.sum`.
  */
object BigDiffy {

  val MissingLhs = "MISSING_LHS"
  val MissingRhs = "MISSING_RHS"

  /** @param enforceUniqueKeys reference semantics: more than one record per
    *        key per side fails the job (BigDiffy.scala:240-242). The check
    *        rides INSIDE the join pass: each side pre-aggregates by key
    *        (keeping the row plus a per-key count) under the same hash
    *        partitioning the join needs — no extra exchange, no extra
    *        job — and a `raise_error` guard fails the first action that
    *        touches a duplicated key. Opt out for pre-validated inputs. */
  def diff(lhs: DataFrame, rhs: DataFrame, keys: Seq[String],
           opts: DiffOptions = DiffOptions(),
           enforceUniqueKeys: Boolean = true): DiffResult = {
    val l0 = SchemaPaths.keyBy(lhs, keys, "__l")
    val r0 = SchemaPaths.keyBy(rhs, keys, "__r")
    // the dup-key guard costs nothing extra at scale: the per-side
    // aggregate shuffles on __key exactly like the raw join would, the
    // join then reuses that partitioning (PlanSpec: still 2 exchanges),
    // and with unique keys first() just passes the single row through
    val (l, r) =
      if (enforceUniqueKeys)
        (l0.groupBy("__key").agg(first("__l").as("__l"),
           count(lit(1)).as("__lcnt")),
         r0.groupBy("__key").agg(first("__r").as("__r"),
           count(lit(1)).as("__rcnt")))
      else (l0, r0)
    val joined = l.join(r, Seq("__key"), "full_outer")

    def dupMsg(side: String, cnt: Column): Column =
      concat(lit(s"$side: key '"), col("__key"), lit("' appears "),
        cnt.cast(StringType), lit(" times; keys must be unique per side " +
          "(reference BigDiffy.scala:240-242)"))
    val guard: Column => Column =
      if (!enforceUniqueKeys) identity
      else c => when(col("__lcnt") > 1, raise_error(dupMsg("lhs", col("__lcnt"))))
        .when(col("__rcnt") > 1, raise_error(dupMsg("rhs", col("__rcnt"))))
        .otherwise(c)

    val keyPathSet = keys.toSet
    val lLeaves = SchemaPaths.leafPaths(lhs.schema).toMap
    val rLeaves = SchemaPaths.leafPaths(rhs.schema).toMap
    // diff over the UNION of both schemas' leaves (reference merges BQ
    // schemas, BigDiffy.scala:399-402); a side lacking the field reads null
    val paths = (SchemaPaths.leafPaths(lhs.schema).map(_._1) ++
      SchemaPaths.leafPaths(rhs.schema).map(_._1)).distinct
      .filterNot(keyPathSet)
      .filterNot(p => opts.ignore.contains(p) || opts.ignore.exists(ig => p.startsWith(ig + ".")))

    def side(prefix: String, leaves: Map[String, DataType], p: String): Column =
      if (leaves.contains(p)) col(s"$prefix.$p") else lit(null)

    // ---- protobuf message presence (opts.messagePresence) -------------
    // The presence-bearing struct nodes: paths that are structs in BOTH
    // schemas (the intersection — proto presence is a single-descriptor
    // concept; a path that is a struct on one side and a primitive/absent
    // on the other is schema EVOLUTION and falls to the plain leaf
    // behavior, else the node delta and the leaf mismatch would both fire
    // at the same path). A leaf delta only fires when every ancestor
    // message is present on BOTH sides; a message null on exactly one
    // side yields one UNKNOWN delta at the message path (shallowest
    // absent ancestor wins — deeper nodes are gated on their own
    // ancestors' presence).
    def nodeType(schema: StructType, n: String): Option[DataType] =
      SchemaPaths.typeAt(schema, n).filter(_.isInstanceOf[StructType])
    val structNodes: Seq[String] =
      if (!opts.messagePresence) Nil
      else SchemaPaths.structNodePaths(lhs.schema)
        .filter(n => nodeType(rhs.schema, n).isDefined)
        .filterNot(p => opts.ignore.contains(p) ||
          opts.ignore.exists(ig => p.startsWith(ig + ".")))
    def nodeSide(prefix: String, schema: StructType, n: String): Column =
      if (nodeType(schema, n).isDefined) col(s"$prefix.$n")
      else lit(null)
    def bothPresent(n: String): Column =
      nodeSide("__l", lhs.schema, n).isNotNull &&
        nodeSide("__r", rhs.schema, n).isNotNull
    def ancestorsPresent(p: String): Column =
      structNodes.filter(n => p.startsWith(n + "."))
        .foldLeft(lit(true))((acc, n) => acc && bothPresent(n))
    val gate: (String, Column) => Column =
      if (structNodes.isEmpty) (_, c) => c
      else (p, c) => when(ancestorsPresent(p), c)
    val nodeDeltas: Seq[Column] = structNodes.map { n =>
      val ln = nodeSide("__l", lhs.schema, n)
      val rn = nodeSide("__r", rhs.schema, n)
      val lt = nodeType(lhs.schema, n)
      val rt = nodeType(rhs.schema, n)
      val render: (Column, Option[DataType]) => Column = {
        case (c, Some(t)) => DeltaExpr.render(c, t)
        case (_, None)    => lit(null).cast(StringType)
      }
      val oneAbsent = (ln.isNull && rn.isNotNull) || (ln.isNotNull && rn.isNull)
      gate(n, when(oneAbsent, struct(
        lit(n).as("field"), render(ln, lt).as("left"), render(rn, rt).as("right"),
        lit("UNKNOWN").as("delta_type"),
        lit(null).cast(DoubleType).as("delta"))))
    }

    val (keyedArrayPaths, rest) = paths.partition { p =>
      // the keyed-array differ reads BOTH sides' columns directly, so it
      // only applies when both sides carry the SAME array<struct> type;
      // one-sided or type-evolved fields fall to the plain path, which
      // degrades to UNKNOWN instead of failing analysis
      opts.unorderedFieldKeys.contains(p) &&
        lLeaves.get(p).exists {
          case ArrayType(_: StructType, _) => true
          case _ => false
        } && lLeaves.get(p) == rLeaves.get(p)
    }
    // map leaves diff per key over the union of key sets (same type both
    // sides; a type change falls through to the mismatch path)
    val (mapPaths, plainPaths) = rest.partition { p =>
      (lLeaves.get(p), rLeaves.get(p)) match {
        case (Some(lt: MapType), Some(rt)) => lt == rt
        case (Some(_: MapType), None)      => true
        case (None, Some(_: MapType))      => true
        case _                             => false
      }
    }

    val deltaStructs: Seq[Column] = plainPaths.map { p =>
      val lc = side("__l", lLeaves, p)
      val rc = side("__r", rLeaves, p)
      (lLeaves.get(p), rLeaves.get(p)) match {
        // schema evolution changed the leaf's type: comparing under either
        // side's type would cast across types (throws under ANSI); the
        // reference's runtime dispatch degrades to UnknownDelta — match it
        case (Some(lt), Some(rt)) if lt != rt =>
          gate(p, DeltaExpr.forTypeMismatch(p, lt, rt, lc, rc))
        case (lo, ro) =>
          gate(p, DeltaExpr.forLeaf(p, lo.orElse(ro).get, lc, rc, opts))
      }
    } ++ nodeDeltas
    val keyedArrays: Seq[Column] = keyedArrayPaths.map { p =>
      val ArrayType(elem: StructType, _) = lLeaves(p): @unchecked
      gate(p, DeltaExpr.forKeyedArray(p, elem, opts.unorderedFieldKeys(p),
        col(s"__l.$p"), col(s"__r.$p")))
    }
    val mapArrays: Seq[Column] = mapPaths.map { p =>
      val mt = lLeaves.getOrElse(p, rLeaves(p)).asInstanceOf[MapType]
      gate(p, DeltaExpr.forMap(p, mt, side("__l", lLeaves, p).cast(mt),
        side("__r", rLeaves, p).cast(mt)))
    }

    val plainArr =
      if (deltaStructs.isEmpty) array().cast(DeltaExpr.deltaArrayType)
      else filter(array(deltaStructs: _*), d => d.isNotNull)
    val deltasArr = (keyedArrays ++ mapArrays).foldLeft(plainArr)((acc, ka) =>
      concat(acc, coalesce(ka, array().cast(DeltaExpr.deltaArrayType))))

    val keyed = joined
      .withColumn("__deltas", deltasArr)
      .select(
        col("__key").as("key"),
        guard(when(col("__l").isNull, MissingLhs)
          .when(col("__r").isNull, MissingRhs)
          .when(size(col("__deltas")) > 0, "DIFFERENT")
          .otherwise("SAME")).as("diff_type"),
        col("__deltas"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    new DiffResult(keyed)
  }

  /** Reference semantics: keys must be unique per side — more than one
    * record per key is an error (BigDiffy.scala:240-242). Runs one cheap
    * aggregate per side; call before `diff` when inputs are untrusted. */
  def assertUniqueKeys(df: DataFrame, keys: Seq[String], side: String): Unit = {
    val dup = df.groupBy(SchemaPaths.multiKey(df.schema, keys).as("__key"))
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"$side: key '${dup.head.getString(0)}' appears ${dup.head.getLong(1)} times; " +
          "keys must be unique per side (reference BigDiffy.scala:240-242)")
  }

  /** The five [[DiffResult.globalStats]] counters over a relation with a
    * `diff_type` column. */
  private[diffy] val globalCounters: Seq[Column] = Seq(
    count(lit(1)).as("num_total"),
    sum(when(col("diff_type") === "SAME", 1L).otherwise(0L)).as("num_same"),
    sum(when(col("diff_type") === "DIFFERENT", 1L).otherwise(0L)).as("num_diff"),
    sum(when(col("diff_type") === MissingLhs, 1L).otherwise(0L)).as("num_missing_lhs"),
    sum(when(col("diff_type") === MissingRhs, 1L).otherwise(0L)).as("num_missing_rhs"))

  /** `perField` plus `fraction` = count / `numDiff`. */
  private[diffy] def withFraction(perField: DataFrame, numDiff: Column): DataFrame =
    perField.withColumn("fraction", col("count").cast("double") / numDiff)

  /** Write the three stats views as TSV-with-header (reference saveStats +
    * saveAsTextFileWithHeader, BigDiffy.scala:439-485, 676-687).
    *
    * Write order and what each write computes:
    *   1. `keys`, a full dump of the cached diff relation, carries the
    *      five global counters as an observed metric, so the pass that
    *      writes it also counts it;
    *   2. `fields`, the delta explode + per-field aggregate over the same
    *      cached relation, takes its `fraction` denominator from the
    *      observed `num_diff` instead of a second aggregate. It waits for
    *      `keys`: run concurrently over the not-yet-cached relation, the
    *      two cost 2 more Spark jobs than in turn;
    *   3. `global`, the observed counters as one local row under
    *      [[DiffResult.globalStats]]' schema (an empty diff keeps its
    *      null sums), written LAST: its `_SUCCESS` is the completion
    *      witness callers key output-exists short-circuiting on, so a
    *      crash before it leaves no witness and the rerun rewrites,
    *      never false-skips. */
  def saveStats(result: DiffResult, outputDir: String, ignoreNan: Boolean = false): Unit = {
    def tsv(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true").option("sep", "\t")
        .csv(s"$outputDir/$name")
    val counters = org.apache.spark.sql.Observation()
    tsv(result.keyStats.observe(counters, globalCounters.head, globalCounters.tail: _*), "keys")
    // the same wait as Observation.get, but for the Row itself
    val totals = scala.concurrent.Await.result(counters.future,
      scala.concurrent.duration.Duration.Inf)
    tsv(withFraction(result.perField(ignoreNan),
      lit(totals.getAs[java.lang.Long]("num_diff")).cast(LongType)), "fields")
    val spark = result.keyStats.sparkSession
    tsv(spark.createDataFrame(java.util.List.of(totals), result.globalStats.schema), "global")
  }
}
