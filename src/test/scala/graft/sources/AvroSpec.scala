package graft.sources

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Avro source/sink on the mapreduce I/O path: round-trips preserve
  * values and nullability, the reader schema pins decoding, corrupt
  * container files quarantine per file, and the fixture tables survive a
  * parquet → avro → parquet round-trip unchanged. */
class AvroSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("write → read round-trips primitives, nulls, nested structs, " +
    "arrays, maps, dates and timestamps") {
    val dir = tmp("graft_avro_rt") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("props", MapType(StringType, LongType, valueContainsNull = true)),
      StructField("nested", StructType(Seq(
        StructField("a", IntegerType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true),
      StructField("d", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = true)))
    val rows = Seq(
      Row(1L, "alpha", 1.5, true, Array[Byte](1, 2, 3), Seq("x", "y"),
        Map("k" -> 7L), Row(5, "in"), java.sql.Date.valueOf("2024-06-01"),
        java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789012")),
      Row(2L, null, null, false, null, Seq.empty[String],
        Map.empty[String, Long], null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    Avro.write(df, dir)

    val back = Avro.read(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.orderBy("id").collect()
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getLong(0) == 1L && r1.getString(1) == "alpha")
    assert(r1.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2, 3))
    assert(r1.getAs[scala.collection.Seq[String]]("tags").toSeq == Seq("x", "y"))
    assert(r1.getAs[Map[String, Long]]("props") == Map("k" -> 7L))
    assert(r1.getAs[Row]("nested") == Row(5, "in"))
    assert(r1.getAs[java.sql.Date]("d").toString == "2024-06-01")
    assert(r1.getAs[java.sql.Timestamp]("ts").toString ==
      "2024-06-01 12:34:56.789012", "microsecond precision must survive")
    val r2 = got(1)
    assert(r2.isNullAt(1) && r2.isNullAt(2) && r2.isNullAt(7) && r2.isNullAt(9))
  }

  test("fixture lineitem survives parquet → avro → parquet with equal " +
    "aggregates") {
    val dir = tmp("graft_avro_li") + "/t"
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate")
    Avro.write(li, dir)
    val back = Avro.read(spark, dir)
    assert(back.count() == li.count())
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum("l_quantity"), countDistinct("l_orderkey"),
        max("l_shipdate")).collect().head.toSeq
    assert(agg(back) == agg(li))
  }

  test("explicit reader schema pins decoding; a projection-compatible " +
    "reader reads files written with the full schema") {
    val dir = tmp("graft_avro_schema") + "/t"
    Avro.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "v"), dir)
    // reader schema = the writer schema (pinned via JSON)
    val writerJson = Avro.toAvroSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("s", StringType, nullable = true),
        StructField("v", DoubleType, nullable = false)))).toString
    val pinned = Avro.read(spark, dir, Some(writerJson))
    assert(pinned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("corrupt container files quarantine per file; intact files decode") {
    val dir = tmp("graft_avro_bad") + "/t"
    Avro.write(Seq((1L, "ok"), (2L, "fine")).toDF("id", "s"), dir)
    // clobber bytes INSIDE one container file (past the header) and add
    // a file that is not avro at all
    val d = new java.io.File(dir)
    val avros = d.listFiles().filter(_.getName.endsWith(".avro")).sorted
    assert(avros.nonEmpty)
    val victim = avros.head
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try {
      val n = raf.length()
      raf.seek(n - math.min(32, n / 2))
      raf.write(Array.fill(16)(0x5a.toByte))
    } finally raf.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "garbage.avro"),
      "this is not avro".getBytes)

    val schemaJson = Avro.toAvroSchema(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))).toString
    val (good, bad) = Avro.readPermissive(spark, dir, schemaJson)
    assert(bad.exists(_.endsWith("garbage.avro")),
      s"non-avro file must quarantine: $bad")
    assert(bad.size >= 1 && bad.size <= 2)
    // every surviving row decodes, none from quarantined files
    val ids = good.select("id").as[Long].collect().toSet
    assert(ids.subsetOf(Set(1L, 2L)))
  }

  test("property: edge values survive the round-trip — NaN/±Inf, -0.0, " +
    "Long.Min/Max, empty and astral-plane strings, empty collections") {
    val dir = tmp("graft_avro_edge") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("tags", ArrayType(LongType, containsNull = false))))
    val rows = Seq(
      Row(Long.MinValue, Double.NaN, Float.NaN, "", Seq.empty[Long]),
      Row(Long.MaxValue, Double.PositiveInfinity, Float.NegativeInfinity,
        "\u0000nul", Seq(Long.MinValue, Long.MaxValue)),
      Row(0L, -0.0, -0.0f, "emoji 😀 and 中文 and é", Seq(0L)),
      Row(1L, null, null, null, Seq(1L, 2L, 3L)),
      Row(2L, Double.MinPositiveValue, Float.MinPositiveValue,
        "a" * 10000, Seq.empty[Long]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    Avro.write(df, dir)
    val back = Avro.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r)).toMap
    val want = rows.map(r => (r.getLong(0), r)).toMap
    for ((id, w) <- want) {
      val g = back(id)
      def bits(x: Any): Any = x match {
        case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
        case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f)
        case other => other
      }
      assert(bits(g.get(1)) == bits(w.get(1)), s"id=$id double")
      assert(bits(g.get(2)) == bits(w.get(2)), s"id=$id float")
      assert(g.get(3) == w.get(3), s"id=$id string")
      assert(g.getAs[scala.collection.Seq[Long]](4).toSeq ==
        w.getAs[Seq[Long]](4), s"id=$id array")
    }
    // and through the wire serde too
    val schemaJson = Avro.toAvroSchema(schema).toString
    val wire = df.select(AvroSerde.toAvro(
      org.apache.spark.sql.functions.struct(df.columns.map(df(_)): _*),
      schema).as("v"))
    val rt = wire.select(AvroSerde.fromAvro(col("v"), schemaJson).as("e"))
      .select("e.*").orderBy("id").collect()
    assert(rt.length == rows.size)
    assert(rt.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted)
  }

  test("decimal logicalType round-trips exactly on bytes and decodes fixed") {
    val dir = tmp("graft_avro_dec") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(12, 2), nullable = true),
      StructField("rate", DecimalType(38, 10), nullable = false)))
    val rows = Seq(
      Row(1L, new java.math.BigDecimal("12345.67"),
        new java.math.BigDecimal("0.0000000001")),
      Row(2L, new java.math.BigDecimal("-0.01"),
        new java.math.BigDecimal("9999999999999999999999999999.9999999999")),
      Row(3L, null, new java.math.BigDecimal("0.0000000000")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    Avro.write(df, dir)
    val back = Avro.read(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.orderBy("id").collect()
    assert(got.map(r => Option(r.getDecimal(1)).map(_.toPlainString).orNull).toSeq ==
      Seq("12345.67", "-0.01", null))
    assert(got.map(_.getDecimal(2).toPlainString).toSeq ==
      Seq("0.0000000001", "9999999999999999999999999999.9999999999",
        "0.0000000000"))

    // decimal-on-FIXED decode path (some writers pad to a fixed width):
    // hand-build a record and convert — the unscaled two's-complement
    // bytes right-aligned in the fixed width must decode to the same value
    val fixedSchema = org.apache.avro.LogicalTypes.decimal(10, 3).addToSchema(
      org.apache.avro.Schema.createFixed("amt", null, "graft", 6))
    val rec = org.apache.avro.SchemaBuilder.record("r").fields()
      .name("v").`type`(fixedSchema).noDefault().endRecord()
    val unscaled = new java.math.BigInteger("-1234567") // -1234.567
    val raw = unscaled.toByteArray
    val padded = Array.fill[Byte](6)(if (unscaled.signum() < 0) -1 else 0)
    System.arraycopy(raw, 0, padded, 6 - raw.length, raw.length)
    val gr = new org.apache.avro.generic.GenericRecordBuilder(rec)
      .set("v", new org.apache.avro.generic.GenericData.Fixed(fixedSchema, padded))
      .build()
    val st = Avro.toSparkSchema(rec)
    assert(st.fields.head.dataType == DecimalType(10, 3))
    assert(Avro.recordToRow(gr, st).getDecimal(0).toPlainString == "-1234.567")
    // and the write side sign-extends into the fixed width identically
    val wrote = Avro.rowToRecord(
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array(new java.math.BigDecimal("-1234.567")), st), rec)
    assert(wrote.get("v").asInstanceOf[
      org.apache.avro.generic.GenericData.Fixed].bytes().toSeq == padded.toSeq)
  }

  test("writing a decimal that cannot carry the schema scale refuses loudly") {
    // Row claims DecimalType(12,2) but carries scale-4 precision — the
    // write must refuse (RoundingMode.UNNECESSARY), never silently round
    val st = StructType(Seq(
      StructField("amount", DecimalType(12, 2), nullable = false)))
    val avroSchema = Avro.toAvroSchema(st)
    intercept[ArithmeticException] {
      Avro.rowToRecord(
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array(new java.math.BigDecimal("1.005")), st), avroSchema)
    }
  }

  test("null in a non-nullable field refuses loudly, naming the field — " +
    "at top level and inside a nested record") {
    // straight at the compiled encoder: Spark's own row encoder rejects
    // nulls in non-nullable createDataFrame fields before Avro would see
    // them, but a hand-built Row (an upstream source with a lying schema)
    // reaches recordWriter — the diagnosability path the r18 ADVICE item
    // is about
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val enc = Avro.recordWriter(Avro.toAvroSchema(st), st)
    val e = intercept[IllegalArgumentException] { enc(Row(1L, null)) }
    assert(e.getMessage.contains("name") &&
      e.getMessage.contains("does not accept null"), e.getMessage)

    val nested = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", StructType(Seq(
        StructField("inner", StringType, nullable = false))), nullable = true)))
    val enc2 = Avro.recordWriter(Avro.toAvroSchema(nested), nested)
    val e2 = intercept[IllegalArgumentException] { enc2(Row(1L, Row(null))) }
    assert(e2.getMessage.contains("inner") &&
      e2.getMessage.contains("does not accept null"), e2.getMessage)
  }

  test("externally written timestamp-millis array elements and map " +
    "values decode by their own logical type, not 1000x off") {
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type": "record", "name": "ext", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "ts", "type": {"type": "array",
        |    "items": {"type": "long", "logicalType": "timestamp-millis"}}},
        |  {"name": "tm", "type": {"type": "map",
        |    "values": {"type": "long", "logicalType": "timestamp-millis"}}}
        |]}""".stripMargin)
    val dir = tmp("graft_avro_millis") + "/t"
    new java.io.File(dir).mkdirs()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](
        schema))
    w.create(schema, new java.io.File(dir, "part-0.avro"))
    try {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      val ms = 1700000000123L // 2023-11-14T22:13:20.123Z
      rec.put("id", 1L)
      rec.put("ts", java.util.Arrays.asList(java.lang.Long.valueOf(ms)))
      rec.put("tm", java.util.Collections.singletonMap("a", java.lang.Long.valueOf(ms)))
      w.append(rec)
    } finally w.close()
    val back = Avro.read(spark, dir)
    assert(back.schema("ts").dataType == ArrayType(TimestampType, containsNull = false))
    val got = back.select(
      unix_millis(element_at(col("ts"), 1)),
      unix_millis(element_at(col("tm"), "a"))).as[(Long, Long)].head()
    assert(got == ((1700000000123L, 1700000000123L)), got.toString)
  }

  test("a null array element or map value whose avro schema has no null " +
    "branch refuses loudly, naming the field") {
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type": "record", "name": "strict", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "tags", "type": {"type": "array", "items": "string"}},
        |  {"name": "m", "type": {"type": "map", "values": "long"}},
        |  {"name": "loose", "type": {"type": "array", "items": ["null", "string"]}}
        |]}""".stripMargin)
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = false),
      StructField("m", MapType(StringType, LongType, valueContainsNull = true),
        nullable = false),
      StructField("loose", ArrayType(StringType, containsNull = true), nullable = false)))
    val enc = Avro.recordWriter(schema, st)
    val e = intercept[IllegalArgumentException] {
      enc(Row(1L, Seq("a", null), Map("k" -> 1L), Seq("x")))
    }
    assert(e.getMessage.contains("element of field tags") &&
      e.getMessage.contains("does not accept null"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      enc(Row(1L, Seq("a"), Map("k" -> null), Seq("x")))
    }
    assert(e2.getMessage.contains("value of field m") &&
      e2.getMessage.contains("does not accept null"), e2.getMessage)
    // an element schema WITH a null branch still takes the null
    val rec = enc(Row(1L, Seq("a"), Map("k" -> 1L), Seq(null, "y")))
    assert(rec.get("loose").asInstanceOf[java.util.List[_]].get(0) == null)
  }

  test("deeply nested shapes round-trip on the compiled converters: " +
    "array of structs, map of arrays, struct of struct") {
    val dir = tmp("graft_avro_deep") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("arr_s", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = true),
        StructField("y", StringType, nullable = true))),
        containsNull = true), nullable = true),
      StructField("map_a", MapType(StringType,
        ArrayType(DoubleType, containsNull = true),
        valueContainsNull = true), nullable = true),
      StructField("s_s", StructType(Seq(
        StructField("inner", StructType(Seq(
          StructField("v", LongType, nullable = true))), nullable = true),
        StructField("ts", TimestampType, nullable = true))), nullable = true)))
    val rows = Seq(
      Row(1L,
        Seq(Row(1, "a"), null, Row(null, "c")),
        Map("k1" -> Seq(1.5, null, 2.5), "k2" -> null),
        Row(Row(42L), java.sql.Timestamp.valueOf("2024-06-01 01:02:03.000004"))),
      Row(2L, null, null, Row(null, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    Avro.write(df, dir)
    val back = Avro.read(spark, dir).orderBy("id").collect()
    assert(back.length == 2)
    val r1 = back(0)
    assert(r1.getAs[scala.collection.Seq[Row]]("arr_s").toSeq ==
      Seq(Row(1, "a"), null, Row(null, "c")))
    assert(r1.getAs[Map[String, scala.collection.Seq[Double]]]("map_a")
      .view.mapValues(v => Option(v).map(_.toSeq).orNull).toMap ==
      Map("k1" -> Seq(1.5, null, 2.5), "k2" -> null))
    assert(r1.getAs[Row]("s_s") ==
      Row(Row(42L), java.sql.Timestamp.valueOf("2024-06-01 01:02:03.000004")))
    val r2 = back(1)
    assert(r2.isNullAt(1) && r2.isNullAt(2) && r2.getAs[Row]("s_s") == Row(null, null))
  }

  test("unsupported shapes refuse loudly at schema conversion") {
    intercept[IllegalArgumentException] {
      Avro.toAvroSchema(StructType(Seq(
        StructField("iv", CalendarIntervalType, nullable = true))))
    }
    val multi = org.apache.avro.SchemaBuilder.unionOf()
      .intType().and().stringType().endUnion()
    val rec = org.apache.avro.SchemaBuilder.record("r").fields()
      .name("u").`type`(multi).noDefault().endRecord()
    intercept[IllegalArgumentException] { Avro.toSparkSchema(rec) }
  }
}
