package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro round-trips, mirroring the reference's AvroIOTest. */
class AvroIOSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("attrs", MapType(StringType, LongType), nullable = true),
    StructField("nested", StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", DoubleType, nullable = true))), nullable = true),
    StructField("blob", BinaryType, nullable = true)))

  private val rows = Seq(
    Row(1L, "x", Seq("t1", "t2"), Map("k" -> 9L), Row(1, 2.5), Array[Byte](1, 2)),
    Row(2L, null, Seq("t3"), null, Row(3, null), null),
    Row(3L, "z", Seq.empty[String], Map.empty[String, Long], null, Array[Byte]()))

  behavior of "AvroIO"

  it should "round-trip rows through a local container file" in {
    val f = graft.SparkSpec.tempDir("avro").resolve("data.avro").toString
    AvroIO.writeLocal(rows, schema, f)
    val (got, st) = AvroIO.readLocal(f)
    st shouldBe schema
    got.map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
    val r1 = got.find(_.getLong(0) == 1).get // schemaless Rows: index access
    r1.getMap[String, Long](3) shouldBe Map("k" -> 9L)
    r1.getStruct(4) shouldBe Row(1, 2.5)
    r1.get(5).asInstanceOf[Array[Byte]].toSeq shouldBe Seq[Byte](1, 2)
    got.find(_.getLong(0) == 2).get.isNullAt(1) shouldBe true
  }

  it should "round-trip a DataFrame through the distributed sink and scan" in {
    val dir = graft.SparkSpec.tempDir("avrodist").toString + "/out"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroIO.write(df, dir)
    val back = AvroIO.read(spark, dir)
    back.count() shouldBe 3
    back.select("id", "name").orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "x"), (2L, null), (3L, "z"))
    back.select(explode(col("tags"))).count() shouldBe 3
    // schema sniff works on written shards
    AvroConverters.toStructType(AvroIO.sniffSchema(dir)) shouldBe schema
  }

  it should "honor the output-exists short circuit" in {
    val dir = graft.SparkSpec.tempDir("guard").toString + "/out"
    val df = Seq((1L, "a")).toDF("id", "v")
    var runs = 0
    GraftIO.unlessDone(dir) { runs += 1; df.write.parquet(dir) } shouldBe true
    GraftIO.unlessDone(dir) { runs += 1; df.write.mode("overwrite").parquet(dir) } shouldBe false
    runs shouldBe 1
  }

  it should "round-trip JSON lines" in {
    val dir = graft.SparkSpec.tempDir("json").toString + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    GraftIO.writeJsonLines(df, dir)
    GraftIO.readJsonLines(spark, dir).count() shouldBe 2
    // JSON sources force nullable fields: compare names and types only
    GraftIO.readJsonLines(spark, dir, Some(df.schema)).schema
      .fields.map(f => (f.name, f.dataType)) shouldBe
      df.schema.fields.map(f => (f.name, f.dataType))
  }

  it should "read external timestamp shapes leniently while keeping micro fidelity" in {
    // the reader deliberately pins NO custom timestamp format: Spark's
    // default parser is lenient (space separator, 1-9 fraction digits)
    // AND micro-capable — an externally-produced feed with odd shapes
    // must keep parsing, and this engine's own 6-digit output must
    // round-trip micros exactly. A custom pattern would break one or
    // the other; this spec locks both.
    val dir = graft.SparkSpec.tempDir("json_ts").toString + "/in"
    val lines = Seq(
      """{"id":1,"ts":"2024-03-05T06:07:08.123456"}""", // own output shape
      """{"id":2,"ts":"2024-03-05 06:07:08"}""",        // space separator
      """{"id":3,"ts":"2024-03-05T06:07:08.1"}""",      // 1 fraction digit
      """{"id":4,"ts":"2024-03-05T06:07:08.123"}""")    // legacy 3-digit
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampNTZType)))
    val got = GraftIO.readJsonLines(spark, dir, Some(schema))
      .orderBy("id").select("ts").collect().map(_.get(0))
    all(got.map(_ != null)) shouldBe true
    got(0).toString should include("06:07:08.123456")
    got(1).toString should include("06:07:08")
    got(2).toString should include("06:07:08.1")
  }

  /** parquet-mr fixture: a single-file parquet with an INT64 `ts` column
    * carrying the given timestamp logical-type unit — Spark itself cannot
    * write NANOS/MILLIS, so the fixture goes through the example writer. */
  private def writeTsFixture(
      unit: org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit,
      values: Seq[Long]): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = graft.SparkSpec.tempDir("ts_fixture").toString
    val file = s"$dir/part-00000.parquet"
    val schema: MessageType = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.INT64,
          org.apache.parquet.schema.Type.Repetition.REQUIRED)
        .as(LogicalTypeAnnotation.timestampType(false, unit)).named("ts"))
      .addField(Types.primitive(PrimitiveTypeName.INT64,
          org.apache.parquet.schema.Type.Repetition.REQUIRED).named("user_id"))
      .named("event")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      val g = factory.newGroup()
      g.add("ts", v); g.add("user_id", i.toLong)
      writer.write(g)
    } finally writer.close()
    file
  }

  it should "read NANOS parquet as long without touching the session conf" in {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val nanos = Seq(1706657176220708000L, 1500000000123456789L)
    val events = writeTsFixture(TimeUnit.NANOS, nanos)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val df = GraftIO.readParquetNanosAsLong(spark, events)
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.LongType
    df.select("ts").as[Long].collect().sorted shouldBe nanos.sorted.toArray
    // the legacy conf must still be off: a default read still rejects NANOS
    spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .getOrElse("false") shouldBe "false"
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      spark.read.parquet(events).schema
  }

  it should "normalize every parquet timestamp unit to epoch micros" in {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val baseUs = 1706657176220708L
    // NANOS truncates sub-micro digits; MILLIS scales up; MICROS is raw
    val cases = Seq(
      (TimeUnit.NANOS, Seq(baseUs * 1000L + 999L, 123456789L), Seq(baseUs, 123456L)),
      (TimeUnit.MICROS, Seq(baseUs, 42L), Seq(baseUs, 42L)),
      (TimeUnit.MILLIS, Seq(baseUs / 1000L, 7L), Seq(baseUs / 1000L * 1000L, 7000L)))
    for ((unit, in, want) <- cases) {
      val file = writeTsFixture(unit, in)
      val df = GraftIO.readParquetTsAsMicros(spark, file)
      df.schema("ts").dataType shouldBe org.apache.spark.sql.types.LongType
      df.select("ts").as[Long].collect().sorted shouldBe want.sorted.toArray
    }
    // session conf untouched throughout
    spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .getOrElse("false") shouldBe "false"
  }

  it should "read the real (MICROS) events table as micros longs" in {
    val events = "/root/testdata/sf0.001/events.parquet"
    val df = GraftIO.readParquetTsAsMicros(spark, events)
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.LongType
    // cross-check against Spark's own timestamp decode of the same file
    val viaTs = spark.read.parquet(events)
      .select(org.apache.spark.sql.functions
        .expr("max(unix_micros(cast(ts as timestamp)))")).first().getLong(0)
    df.agg(org.apache.spark.sql.functions.max("ts")).first().getLong(0) shouldBe viaTs
  }

  it should "refuse INT96 timestamps with a clear message instead of mis-scaling" in {
    // Spark's legacy INT96 parquet timestamps carry NO unit annotation —
    // scaling one silently would corrupt every downstream epoch-math
    // gate, so the reader must fail loudly (the ScaleUp lesson: a tool
    // writing with the INT96 default broke 8 gates until pinned to
    // TIMESTAMP_MICROS)
    val dir = graft.SparkSpec.tempDir("int96_fix").toString + "/out"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Seq(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      .toDF("ts").write.parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val e = intercept[IllegalArgumentException] {
      GraftIO.readParquetTsAsMicros(spark, dir)
    }
    e.getMessage should include("INT96")
  }

  it should "round-trip decimals via the Avro decimal logical type" in {
    val dir = graft.SparkSpec.tempDir("avro_dec").toString + "/out"
    val df = Seq("12345.67", "-0.01", "0.00")
      .toDF("s").select(col("s").cast("decimal(10,2)").as("d"))
    AvroIO.write(df, dir)
    val back = AvroIO.read(spark, dir)
    back.schema("d").dataType shouldBe org.apache.spark.sql.types.DecimalType(10, 2)
    back.select(col("d").cast("string")).as[String].collect().sorted shouldBe
      Array("-0.01", "0.00", "12345.67")
  }

  behavior of "AvroIO fidelity"

  /** A container file written by a plain `DataFileWriter` (not the
    * engine's sink): `id` plus the case's fields, one record per entry. */
  private def avroFixture(name: String, fieldsJson: String,
                          records: org.apache.avro.Schema => Seq[Seq[Any]]): String = {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new org.apache.avro.Schema.Parser().parse(
      s"""{"type": "record", "name": "${name}_rec", "namespace": "fixture",
         | "fields": [{"name": "id", "type": "long"}, $fieldsJson]}""".stripMargin)
    val dir = graft.SparkSpec.tempDir(s"avro_$name").toString
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(s"$dir/part-00000.avro"))
    try records(schema).zipWithIndex.foreach { case (vals, i) =>
      val rec = new GenericData.Record(schema)
      rec.put("id", i.toLong)
      vals.zipWithIndex.foreach { case (v, j) => rec.put(j + 1, v) }
      w.append(rec)
    } finally w.close()
    dir
  }

  /** Row values in a form `==` compares by content. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case t: java.sql.Timestamp => t.toInstant
    case d: java.sql.Date => d.toLocalDate
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> norm(x) }.toMap
    case x => x
  }
  private def normRows(rows: Seq[Row]): Seq[Any] =
    rows.sortBy(_.getLong(0)).map(norm)

  private def fieldSchema(s: org.apache.avro.Schema, f: String) = s.getField(f).schema()
  private def fixed(s: org.apache.avro.Schema, bytes: Array[Byte]) =
    new org.apache.avro.generic.GenericData.Fixed(s, bytes)
  private def bb(bytes: Array[Byte]) = java.nio.ByteBuffer.wrap(bytes)
  // 8-byte two's complement of an unscaled decimal (sign-extended)
  private def fixedDecimal(unscaled: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(unscaled).array()

  private val innerJson =
    """{"type": "record", "name": "Inner", "fields": [
      |  {"name": "a", "type": "int"}, {"name": "b", "type": ["null", "double"]}]}""".stripMargin
  private def inner(s: org.apache.avro.Schema, a: Int, b: java.lang.Double) = {
    val r = new org.apache.avro.generic.GenericData.Record(s); r.put("a", a); r.put("b", b); r
  }

  /** name → (fields JSON, records). Strings shrink from record to record,
    * so a reader reusing its datum buffers would leak a longer value's
    * tail into a shorter one. */
  private val fidelityCases: Seq[(String, String, org.apache.avro.Schema => Seq[Seq[Any]])] = Seq(
    ("enum", """{"name": "color", "type": {"type": "enum", "name": "Color",
               |  "symbols": ["RED", "GREEN", "BLUE"]}}""".stripMargin,
      s => Seq("GREEN", "RED", "BLUE").map(c => Seq(
        new org.apache.avro.generic.GenericData.EnumSymbol(fieldSchema(s, "color"), c)))),
    ("fixed", """{"name": "f", "type": {"type": "fixed", "name": "F4", "size": 4}}""",
      s => Seq(Array[Byte](1, 2, 3, 4), Array[Byte](-1, 0, 127, -128))
        .map(b => Seq(fixed(fieldSchema(s, "f"), b)))),
    ("bytes", """{"name": "b", "type": "bytes"}""",
      _ => Seq(Array[Byte](9, 8, 7, 6, 5), Array[Byte](1), Array[Byte]()).map(b => Seq(bb(b)))),
    ("decimal_bytes", """{"name": "d", "type": {"type": "bytes", "logicalType": "decimal",
                        |  "precision": 10, "scale": 2}}""".stripMargin,
      _ => Seq(1234567L, -1L, 0L).map(u => Seq(bb(java.math.BigInteger.valueOf(u).toByteArray)))),
    ("decimal_fixed", """{"name": "d", "type": {"type": "fixed", "name": "D8", "size": 8,
                        |  "logicalType": "decimal", "precision": 12, "scale": 3}}""".stripMargin,
      s => Seq(123456789012L, -5L, 0L).map(u => Seq(fixed(fieldSchema(s, "d"), fixedDecimal(u))))),
    ("union_null", """{"name": "s", "type": ["null", "string"]},
                     |{"name": "n", "type": ["null", "long"]}""".stripMargin,
      _ => Seq(Seq("a longer string", 7L), Seq(null, null), Seq("h\u00e9llo \u2713", null),
        Seq("", -3L))),
    ("nested", s"""{"name": "inner", "type": $innerJson},
                  |{"name": "opt", "type": ["null", "Inner"]}""".stripMargin,
      s => Seq(
        Seq(inner(fieldSchema(s, "inner"), 1, 2.5), null),
        Seq(inner(fieldSchema(s, "inner"), -4, null), inner(fieldSchema(s, "inner"), 9, 0.5)))),
    ("array_record", s"""{"name": "items", "type": {"type": "array", "items": $innerJson}}""",
      s => {
        val is = fieldSchema(s, "items").getElementType
        Seq(Seq(java.util.List.of(inner(is, 1, 1.0), inner(is, 2, null), inner(is, 3, 3.0))),
          Seq(java.util.List.of(inner(is, 4, 4.0))), Seq(java.util.List.of()))
      }),
    ("map_long", """{"name": "m", "type": {"type": "map", "values": "long"}}""",
      _ => Seq(Seq(java.util.Map.of("alpha", 1L, "beta", 2L, "gamma", 3L)),
        Seq(java.util.Map.of("z", -9L)), Seq(java.util.Map.of()))),
    ("temporal", """{"name": "ts_ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                   |{"name": "ts_us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                   |{"name": "day", "type": {"type": "int", "logicalType": "date"}}""".stripMargin,
      _ => Seq(Seq(1706657176220L, 1706657176220708L, 19753),
        Seq(-1L, -1L, -1), Seq(0L, 0L, 0))),
    ("java_string", """{"name": "s", "type": {"type": "string", "avro.java.string": "String"}}""",
      _ => Seq("a java string", "x", "\u00fcber").map(Seq(_))))

  it should "scan the same rows as the local reader, and again after a sink round trip" in {
    for ((name, fields, records) <- fidelityCases) withClue(s"$name: ") {
      val dir = avroFixture(name, fields, records)
      val (local, localSt) = AvroIO.readLocal(s"$dir/part-00000.avro")
      val scanned = AvroIO.read(spark, dir)
      scanned.schema shouldBe localSt
      val want = normRows(local)
      normRows(scanned.collect().toSeq) shouldBe want
      val out = graft.SparkSpec.tempDir(s"avro_${name}_rt").toString + "/out"
      AvroIO.write(scanned, out, s"${name}_rec")
      normRows(AvroIO.read(spark, out).collect().toSeq) shouldBe want
    }
  }

  it should "name GenericData as the data model of the scan and the sink" in {
    // left unset, avro-mapred decodes through ReflectData
    import org.apache.avro.generic.GenericData
    import org.apache.avro.hadoop.io.AvroSerialization
    val dir = avroFixture("model", """{"name": "s", "type": "string"}""",
      _ => Seq(Seq("x")))
    def lineage(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))
    val hadoopScans = lineage(AvroIO.read(spark, dir).queryExecution.toRdd).collect {
      case h: org.apache.spark.rdd.NewHadoopRDD[_, _] => h
    }
    hadoopScans should have size 1
    AvroSerialization.getDataModelClass(hadoopScans.head.getConf) shouldBe classOf[GenericData]
    val sink = AvroIO.sinkJob(spark.sparkContext.hadoopConfiguration,
      AvroConverters.toAvroSchema(StructType(Seq(StructField("s", StringType)))))
    AvroSerialization.getDataModelClass(sink.getConfiguration) shouldBe classOf[GenericData]
  }
}
