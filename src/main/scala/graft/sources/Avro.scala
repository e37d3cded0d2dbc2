package graft.sources

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericRecord, GenericRecordBuilder}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro container-file source/sink (SURVEY §2.2 — the Kafka-shop
  * interchange format). Spark 4's external spark-avro module is not on
  * this classpath, but the Avro core + mapreduce I/O libraries are, so
  * this is a REAL reader/writer on Spark's Hadoop-input machinery, not a
  * stub:
  *
  *  - [[read]]: `newAPIHadoopFile` over [[AvroKeyInputFormat]] —
  *    container files SPLIT at Avro block boundaries, so one huge file
  *    still fans out across executors (the 100 TB shape; a per-file
  *    reader would cap parallelism at the file count);
  *  - [[write]]: `saveAsNewAPIHadoopFile` over [[AvroKeyOutputFormat]],
  *    one container file per partition;
  *  - [[readPermissive]]: per-FILE decode with corrupt-container
  *    quarantine — Avro's block CRCs make corruption detectable at
  *    decode time, and the quarantine unit is the file (unlike CSV/JSON
  *    there is no meaningful "bad line" to salvage from a broken
  *    binary block).
  *
  * Type mapping (both directions): boolean/int/long/float/double/
  * string/bytes/fixed ⇄ the obvious Spark types; enum → string;
  * union(null, T) ⇄ nullable T; record ⇄ struct; array ⇄ array;
  * map ⇄ map(string, _); logical date ⇄ DateType; logical
  * timestamp-micros/millis ⇄ TimestampType; logical decimal on
  * bytes/fixed ⇄ DecimalType(precision, scale) — the unscaled value is
  * Avro's two's-complement big-endian integer, re-scaled exactly (writes
  * refuse with RoundingMode.UNNECESSARY if a value can't carry the
  * schema's scale losslessly). Anything else (multi-branch unions,
  * duration) refuses loudly at schema-conversion time — a silent
  * coercion would corrupt data at scale.
  *
  * Avro `Schema` is not serializable; closures carry the schema JSON and
  * re-parse per partition.
  */
object Avro {

  // ---- schema conversion -------------------------------------------

  /** Avro → Spark. Unwraps union(null, T) to nullable T. */
  def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1 && branches.size <= 2,
        s"unsupported multi-branch union: $s")
      (toSparkType(nonNull.head)._1, true)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT =>
      val lt = Option(s.getLogicalType).map(_.getName)
      (if (lt.contains("date")) DateType else IntegerType, false)
    case Schema.Type.LONG =>
      val lt = Option(s.getLogicalType).map(_.getName)
      (lt match {
        case Some(n) if n.startsWith("local-timestamp-") => TimestampNTZType
        case Some(n) if n.startsWith("timestamp-") => TimestampType
        case _ => LongType
      }, false)
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      s.getLogicalType match {
        case d: org.apache.avro.LogicalTypes.Decimal =>
          (DecimalType(d.getPrecision, d.getScale), false)
        case _ => (BinaryType, false)
      }
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.toSeq.map { f =>
        val (dt, nullable) = toSparkType(f.schema())
        StructField(f.name(), dt, nullable)
      }), false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSparkType(s.getElementType)
      (ArrayType(et, en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = toSparkType(s.getValueType)
      (MapType(StringType, vt, vn), false)
    case other => throw new IllegalArgumentException(
      s"unsupported avro type $other in $s")
  }

  def toSparkSchema(s: Schema): StructType =
    toSparkType(s)._1.asInstanceOf[StructType]

  /** Spark → Avro; nullable fields become union(null, T). */
  def toAvroSchema(st: StructType, name: String = "graft_record",
      namespace: String = "graft"): Schema = {
    def field(dt: DataType): Schema = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case dt: DecimalType =>
        org.apache.avro.LogicalTypes.decimal(dt.precision, dt.scale)
          .addToSchema(Schema.create(Schema.Type.BYTES))
      case DateType =>
        org.apache.avro.LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case TimestampNTZType =>
        org.apache.avro.LogicalTypes.localTimestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case s: StructType => toAvroSchema(s, name + "_r" + s.hashCode.abs)
      case ArrayType(et, containsNull) =>
        Schema.createArray(maybeNullable(field(et), containsNull))
      case MapType(StringType, vt, valueNull) =>
        Schema.createMap(maybeNullable(field(vt), valueNull))
      case other => throw new IllegalArgumentException(
        s"unsupported spark type $other for avro")
    }
    def maybeNullable(s: Schema, nullable: Boolean): Schema =
      if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), s)
      else s
    val fields = st.fields.map { f =>
      val base = field(f.dataType)
      val sch =
        if (f.nullable)
          Schema.createUnion(Schema.create(Schema.Type.NULL), base)
        else base
      new Schema.Field(f.name, sch,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(name, null, namespace, false, fields.toList.asJava)
  }

  // ---- value conversion --------------------------------------------

  private def toSparkValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (e: GenericData.EnumSymbol, StringType) => e.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case (f: GenericData.Fixed, BinaryType) => f.bytes().clone()
    case (b: java.nio.ByteBuffer, dt: DecimalType) =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a)
      decimalOfUnscaled(a, dt)
    case (f: GenericData.Fixed, dt: DecimalType) =>
      decimalOfUnscaled(f.bytes(), dt)
    case (i: java.lang.Integer, DateType) => java.time.LocalDate.ofEpochDay(i.longValue())
    case (l: java.lang.Long, TimestampType) =>
      // micros vs millis disambiguated by the reader schema's logical
      // type at record level; readers below always normalize to micros.
      // Split into seconds+nanos — a single plusNanos(l * 1000L) would
      // overflow Long for instants ~±292 years from epoch.
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L)
    case (l: java.lang.Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L),
        (Math.floorMod(l, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (r: GenericRecord, st: StructType) => recordToRow(r, st)
    case (a: java.util.Collection[_], ArrayType(et, _)) =>
      a.asScala.map(toSparkValue(_, et)).toSeq
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      m.asScala.map { case (k, x) => k.toString -> toSparkValue(x, vt) }.toMap
    case (x, _) => x
  }

  /** COMPILED row decoder (r18-opt, guide §1.2 per-task work): resolves
    * field positions, union unwraps, the millis/micros flag and the type
    * dispatch ONCE per task instead of per CELL — [[recordToRow]] paid a
    * name→field schema walk + an Option allocation + a 15-case match for
    * every cell of every row. Sound because [[read]] pins one reader
    * schema for the whole scan (AvroKeyInputFormat re-encodes every
    * record to it), so positions never vary record to record. Since
    * r19-opt, nested records/arrays/maps compile recursively too (the
    * probe measured the generic per-element dispatch at ~2-3× the flat
    * path on struct+array+map rows): a nested record is just this
    * function over the pinned element schema, arrays/maps hoist their
    * element converter once — value-for-value identical to
    * [[toSparkValue]] (nested records millis-normalize per field exactly
    * as [[recordToRow]] does), except that array/map timestamp elements
    * millis-normalize by their own logical type, which the schema-less
    * generic path cannot see. */
  private[sources] def rowReader(
      avroSchema: Schema, st: StructType): GenericRecord => Row = {
    val n = st.fields.length
    val pos: Array[Int] = st.fields.map(f => avroSchema.getField(f.name).pos())
    val convs: Array[Any => Any] = st.fields.map { f =>
      val fieldSch = unwrap(avroSchema.getField(f.name).schema())
      valueReader(f.dataType, fieldSch.exists(isMillisSchema), fieldSch)
    }
    rec => {
      val arr = new Array[Any](n)
      var i = 0
      while (i < n) {
        val raw = rec.get(pos(i))
        arr(i) = if (raw == null) null else convs(i)(raw)
        i += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }
  }

  /** One field's decode function — the per-cell body of [[toSparkValue]]
    * with the type dispatch hoisted out of the row loop. Must stay
    * value-for-value identical to [[toSparkValue]] (+ the millis
    * normalization [[recordToRow]] applied); AvroSpec and the two
    * oracle-gated roundtrip queries pin it. `sch` is the UNWRAPPED avro
    * schema of this position — only consulted for nested shapes (field
    * positions / element schemas); leaves ignore it. */
  private def valueReader(
      dt: DataType, isMillis: Boolean, sch: Option[Schema]): Any => Any =
    dt match {
      case StringType => {
        case u: org.apache.avro.util.Utf8 => u.toString
        case e: GenericData.EnumSymbol => e.toString
        case s: CharSequence => s.toString
        case x => x
      }
      case BinaryType => {
        case b: java.nio.ByteBuffer =>
          val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case f: GenericData.Fixed => f.bytes().clone()
        case x => x
      }
      case dec: DecimalType => {
        case b: java.nio.ByteBuffer =>
          val a = new Array[Byte](b.remaining()); b.duplicate().get(a)
          decimalOfUnscaled(a, dec)
        case f: GenericData.Fixed => decimalOfUnscaled(f.bytes(), dec)
        case x => x
      }
      case DateType => {
        case i: java.lang.Integer => java.time.LocalDate.ofEpochDay(i.longValue())
        case x => x
      }
      case TimestampType =>
        if (isMillis) {
          case l: java.lang.Long => java.time.Instant.ofEpochMilli(l)
          case x => x
        } else {
          case l: java.lang.Long =>
            java.time.Instant.ofEpochSecond(
              Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L)
          case x => x
        }
      case TimestampNTZType =>
        if (isMillis) {
          case l: java.lang.Long =>
            val us = l * 1000L
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          case x => x
        } else {
          case l: java.lang.Long =>
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(l, 1000000L),
              (Math.floorMod(l, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          case x => x
        }
      // nested shapes, COMPILED recursively when the pinned avro schema
      // is at hand (always true on the [[read]]/[[write]] container
      // paths); without it — defensive only, no current caller — fall
      // back to the generic per-element dispatch
      case st2: StructType => sch match {
        case Some(rs) if rs.getType == Schema.Type.RECORD =>
          val f = rowReader(rs, st2)
          val conv: Any => Any = { case r: GenericRecord => f(r); case x => x }
          conv
        case _ => v => toSparkValue(v, st2)
      }
      case at: ArrayType => sch match {
        case Some(as) if as.getType == Schema.Type.ARRAY =>
          // a timestamp element millis-normalizes by its OWN logical
          // type (an externally written timestamp-millis element would
          // otherwise read 1000× off); record elements millis-normalize
          // per field via their own rowReader
          val es = unwrap(as.getElementType).getOrElse(as.getElementType)
          val ec = valueReader(at.elementType, isMillisSchema(es), Some(es))
          val conv: Any => Any = {
            case a: java.util.Collection[_] =>
              a.asScala.map(v => if (v == null) null else ec(v)).toSeq
            case x => x
          }
          conv
        case _ => v => toSparkValue(v, at)
      }
      case mt: MapType => sch match {
        case Some(ms) if ms.getType == Schema.Type.MAP =>
          val vs = unwrap(ms.getValueType).getOrElse(ms.getValueType)
          val vc = valueReader(mt.valueType, isMillisSchema(vs), Some(vs))
          val conv: Any => Any = {
            case m: java.util.Map[_, _] =>
              m.asScala.map { case (k, x) =>
                k.toString -> (if (x == null) null else vc(x))
              }.toMap
            case x => x
          }
          conv
        case _ => v => toSparkValue(v, mt)
      }
      case _ => identity
    }

  /** COMPILED row encoder — the write-side twin of [[rowReader]]:
    * [[rowToRecord]] paid a GenericRecordBuilder (per-field validation +
    * default fill on build()), a name→index map lookup and a union
    * unwrap Option allocation per CELL. Field order and types are fixed
    * by the one avro schema the writer pins, so all of it hoists. All
    * fields are always set, so skipping the builder's default handling
    * changes nothing. A per-field nullability flag (r18 ADVICE) keeps
    * the builder's clear diagnostic: a null in a field whose schema has
    * no null branch refuses HERE with the field named, instead of an
    * NPE deep inside the Hadoop datum writer. Nested records compile
    * through this same function (r19-opt), so the check holds at every
    * depth. */
  private[sources] def recordWriter(
      sch: Schema, st: StructType): Row => GenericRecord = {
    val fields = sch.getFields.asScala.toArray
    val idx: Array[Int] = fields.map(f => st.fieldIndex(f.name()))
    val nullOk: Array[Boolean] = fields.map(f => acceptsNull(f.schema()))
    val recName = sch.getFullName
    val convs: Array[Any => Any] = fields.map { f =>
      val unwrapped = unwrap(f.schema()).getOrElse(f.schema())
      valueWriter(unwrapped, Some(st.fields(st.fieldIndex(f.name())).dataType),
        s"field ${f.name()} of $recName")
    }
    row => {
      val rec = new GenericData.Record(sch)
      var i = 0
      while (i < fields.length) {
        val j = idx(i)
        if (row.isNullAt(j)) {
          if (!nullOk(i)) throw new IllegalArgumentException(
            s"field ${fields(i).name()} of $recName does not accept null " +
              "(avro schema has no null branch)")
          rec.put(i, null)
        } else rec.put(i, convs(i)(row.get(j)))
        i += 1
      }
      rec
    }
  }

  /** One field's encode function over the UNWRAPPED schema — the
    * per-cell body of [[toAvroValue]] with dispatch hoisted; decimals
    * keep the generic path (the RoundingMode.UNNECESSARY refusal must
    * stay bit-identical). Nested records/arrays/maps compile recursively
    * when the Spark-side type is at hand (r19-opt — the probe measured
    * the GenericRecordBuilder-per-nested-record generic path at ~2-3×);
    * without it they fall back to [[toAvroValue]]. */
  private def valueWriter(
      sch: Schema, dt: Option[DataType], what: String): Any => Any = sch.getType match {
    case Schema.Type.INT if sch.getLogicalType != null => {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case d: java.time.LocalDate => d.toEpochDay.toInt
      case x => x
    }
    case Schema.Type.LONG if sch.getLogicalType != null => {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case x => x
    }
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      sch.getLogicalType match {
        case _: org.apache.avro.LogicalTypes.Decimal => v => toAvroValue(v, sch)
        case _ => {
          case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
          case x => x
        }
      }
    case Schema.Type.RECORD => dt match {
      case Some(st: StructType) =>
        val f = recordWriter(sch, st)
        val conv: Any => Any = { case r: Row => f(r); case x => x }
        conv
      case _ => v => toAvroValue(v, sch)
    }
    case Schema.Type.ARRAY => dt match {
      case Some(ArrayType(et, _)) =>
        val elemSch = sch.getElementType
        val elem = s"element of $what"
        val ec = valueWriter(unwrap(elemSch).getOrElse(elemSch), Some(et), elem)
        val nul = nullWriter(elemSch, elem)
        val conv: Any => Any = {
          case a: scala.collection.Seq[_] =>
            a.map(v => if (v == null) nul() else ec(v)).asJava
          case x => x
        }
        conv
      case _ => v => toAvroValue(v, sch)
    }
    case Schema.Type.MAP => dt match {
      case Some(MapType(_, vt, _)) =>
        val vSch = sch.getValueType
        val value = s"value of $what"
        val vc = valueWriter(unwrap(vSch).getOrElse(vSch), Some(vt), value)
        val nul = nullWriter(vSch, value)
        val conv: Any => Any = {
          case m: scala.collection.Map[_, _] =>
            m.map { case (k, x) =>
              k.toString -> (if (x == null) nul() else vc(x))
            }.asJava
          case x => x
        }
        conv
      case _ => v => toAvroValue(v, sch)
    }
    case _ => identity
  }

  /** Whether `s` (a field, element or map-value schema) has a null
    * branch. */
  private def acceptsNull(s: Schema): Boolean =
    s.getType == Schema.Type.UNION &&
      s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)

  /** What a null array element / map value encodes to: null when `s` has
    * a null branch; otherwise the same named refusal a record field
    * gets, instead of an NPE deep inside the Hadoop datum writer. */
  private def nullWriter(s: Schema, what: String): () => Any =
    if (acceptsNull(s)) () => null
    else () => throw new IllegalArgumentException(
      s"$what does not accept null (avro schema has no null branch)")

  /** Whether an unwrapped schema carries a `*-millis` logical type. */
  private def isMillisSchema(s: Schema): Boolean =
    Option(s.getLogicalType).exists(_.getName.endsWith("-millis"))

  private[sources] def recordToRow(r: GenericRecord, st: StructType): Row =
    Row.fromSeq(st.fields.toSeq.map { f =>
      val raw = r.get(f.name)
      // normalize timestamp-millis to micros-backed Instant
      val fieldSchema = r.getSchema.getField(f.name).schema()
      val isMillis = unwrap(fieldSchema).exists(isMillisSchema)
      (raw, f.dataType) match {
        case (l: java.lang.Long, TimestampType) if isMillis =>
          java.time.Instant.ofEpochMilli(l)
        case (l: java.lang.Long, TimestampNTZType) if isMillis =>
          toSparkValue(l * 1000L, TimestampNTZType)
        case _ => toSparkValue(raw, f.dataType)
      }
    })

  /** Avro decimal payload → BigDecimal: the bytes are the unscaled value
    * as a two's-complement big-endian integer (Avro spec §logical types);
    * an empty payload is unscaled zero. Scale comes from the Spark-side
    * DecimalType, which [[toSparkType]] derived from the SAME schema's
    * logical type, so writer and reader scales agree by construction. */
  private def decimalOfUnscaled(a: Array[Byte], dt: DecimalType): java.math.BigDecimal = {
    val unscaled =
      if (a.isEmpty) java.math.BigInteger.ZERO else new java.math.BigInteger(a)
    new java.math.BigDecimal(unscaled, dt.scale)
  }

  private def unwrap(s: Schema): Option[Schema] = s.getType match {
    case Schema.Type.UNION =>
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL)
    case _ => Some(s)
  }

  private def toAvroValue(v: Any, s: Schema): Any = {
    val sch = unwrap(s).getOrElse(s)
    (v, sch.getType) match {
      case (null, _) => null
      case (d: java.sql.Date, Schema.Type.INT) => d.toLocalDate.toEpochDay.toInt
      case (d: java.time.LocalDate, Schema.Type.INT) => d.toEpochDay.toInt
      case (t: java.sql.Timestamp, Schema.Type.LONG)
        if sch.getLogicalType != null =>
        t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case (t: java.time.Instant, Schema.Type.LONG)
        if sch.getLogicalType != null =>
        t.getEpochSecond * 1000000L + t.getNano / 1000
      case (t: java.time.LocalDateTime, Schema.Type.LONG)
        if sch.getLogicalType != null =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case (b: Array[Byte], Schema.Type.BYTES) => java.nio.ByteBuffer.wrap(b)
      case (d: java.math.BigDecimal, Schema.Type.BYTES | Schema.Type.FIXED) =>
        val lt = sch.getLogicalType match {
          case dec: org.apache.avro.LogicalTypes.Decimal => dec
          case other => throw new IllegalArgumentException(
            s"BigDecimal written to non-decimal avro schema $sch (logical $other)")
        }
        // UNNECESSARY: refuse loudly if the value can't carry the schema's
        // scale exactly — a silent round would corrupt money math at scale
        val scaled = d.setScale(lt.getScale, java.math.RoundingMode.UNNECESSARY)
        val raw = scaled.unscaledValue().toByteArray
        if (sch.getType == Schema.Type.BYTES) java.nio.ByteBuffer.wrap(raw)
        else {
          // FIXED: sign-extend the two's-complement value to the fixed width
          val w = sch.getFixedSize
          require(raw.length <= w,
            s"decimal $scaled needs ${raw.length} bytes, fixed($w) too narrow")
          val padded = Array.fill[Byte](w)(if (scaled.signum() < 0) -1 else 0)
          System.arraycopy(raw, 0, padded, w - raw.length, raw.length)
          new GenericData.Fixed(sch, padded)
        }
      case (d: scala.math.BigDecimal, Schema.Type.BYTES | Schema.Type.FIXED) =>
        toAvroValue(d.bigDecimal, s)
      case (r: Row, Schema.Type.RECORD) => rowToRecord(r, sch)
      case (a: scala.collection.Seq[_], Schema.Type.ARRAY) =>
        a.map(toAvroValue(_, sch.getElementType)).asJava
      case (m: scala.collection.Map[_, _], Schema.Type.MAP) =>
        m.map { case (k, x) =>
          k.toString -> toAvroValue(x, sch.getValueType)
        }.asJava
      case (x, _) => x
    }
  }

  private[sources] def rowToRecord(row: Row, s: Schema): GenericRecord = {
    val b = new GenericRecordBuilder(s)
    s.getFields.asScala.foreach { f =>
      val i = row.fieldIndex(f.name())
      b.set(f.name(), toAvroValue(if (row.isNullAt(i)) null else row.get(i),
        f.schema()))
    }
    b.build()
  }

  // ---- read / write ------------------------------------------------

  /** Read avro container files into a DataFrame. The reader schema comes
    * from the FIRST file's writer schema (one driver-side footer open) —
    * pass `avroSchemaJson` to pin it explicitly in production (schema
    * drift across files then fails loudly at decode, not silently). */
  def read(spark: SparkSession, path: String,
      avroSchemaJson: Option[String] = None): DataFrame = {
    val schemaJson = avroSchemaJson.getOrElse(firstFileSchema(spark, path).toString)
    val avroSchema = new Schema.Parser().parse(schemaJson)
    val sparkSchema = toSparkSchema(avroSchema)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("avro.schema.input.key", schemaJson)
    // pin the GENERIC data model: the default ReflectData walks schemas
    // through its reflect encoder cache, which NPEs on
    // union[null, array[union[null, record]]] shapes (and pays per-datum
    // reflection we never need — everything here is GenericRecord-typed)
    org.apache.avro.hadoop.io.AvroSerialization.setDataModelClass(
      conf, classOf[GenericData])
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable],
      conf)
    val rows = rdd.mapPartitions { it =>
      val st = schemaOfJson(schemaJson)
      val decode = rowReader(new Schema.Parser().parse(schemaJson), st)
      it.map { case (k, _) => decode(k.datum()) }
    }
    spark.createDataFrame(rows, sparkSchema)
  }

  // per-executor parse cache: Schema JSON → StructType
  @transient private lazy val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def schemaOfJson(json: String): StructType =
    schemaCache.computeIfAbsent(json,
      j => toSparkSchema(new Schema.Parser().parse(j)))

  private def firstFileSchema(spark: SparkSession, path: String): Schema = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = fs.listStatus(p).filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".avro")).sortBy(_.getName)
      .headOption.getOrElse(
        throw new java.io.FileNotFoundException(s"no .avro files under $path"))
    val in = fs.open(first)
    try {
      val reader = new org.apache.avro.file.DataFileStream[GenericRecord](
        in, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try reader.getSchema finally reader.close()
    } finally in.close()
  }

  /** Write a DataFrame as avro container files (one per partition). */
  def write(df: DataFrame, path: String): Unit = {
    val avroSchema = toAvroSchema(df.schema)
    val schemaJson = avroSchema.toString
    val job = Job.getInstance(
      df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, avroSchema)
    // GENERIC data model (see read): ReflectData's encoder cache NPEs on
    // nullable-record-in-array schemas and adds reflect dispatch per datum
    org.apache.avro.hadoop.io.AvroSerialization.setDataModelClass(
      job.getConfiguration, classOf[GenericData])
    val rowSchema = df.schema
    df.rdd.mapPartitions { it =>
      val sch = new Schema.Parser().parse(schemaJson)
      val encode = recordWriter(sch, rowSchema)
      it.map(row => (new AvroKey[GenericRecord](encode(row)),
        NullWritable.get()))
    }.saveAsNewAPIHadoopFile(
      path,
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]],
      job.getConfiguration)
  }

  /** Per-file permissive read: corrupt container files are QUARANTINED
    * (named in the second return) instead of failing the job — the A24
    * corrupt-record contract at Avro's natural granularity. Decodes one
    * file per task (no block splits), so use [[read]] on trusted data.
    *
    * Two passes over the files (a probe for the bad list, then the decode
    * of the survivors) rather than one cached pass: quarantine is
    * whole-file (a file that fails mid-way must contribute NO rows, so
    * rows cannot stream out before its last record decodes clean) and a
    * single-pass design would need a corpus-sized cache to avoid decoding
    * twice anyway. The probe is the cheap half — it iterates raw Avro
    * records without Row conversion, PLUS one representative
    * record-to-Row conversion per file so schema-shaped conversion
    * failures (an unmapped type combo hits every record identically)
    * quarantine the file rather than crashing the survivor pass. The
    * narrowed residual: a DATA-dependent conversion failure that first
    * appears beyond record one fails the survivor job loudly instead of
    * quarantining — conversion is type-driven, so no such failure class
    * has been observed; the loud crash is preferred over probing every
    * record twice. The survivor pass STREAMS rows (close-on-exhaustion
    * iterator, no per-file buffering). Executors rebuild the SESSION's
    * Hadoop conf
    * from a broadcast key-value copy — a blank Configuration would drop
    * s3a/HDFS credentials and quarantine every intact file as
    * "corrupt". */
  def readPermissive(spark: SparkSession, path: String,
      avroSchemaJson: String): (DataFrame, Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      .filter(_.endsWith(".avro")).sorted.toSeq
    val sparkSchema = toSparkSchema(new Schema.Parser().parse(avroSchemaJson))
    // Configuration is not serializable; ship the session's entries and
    // rebuild per task (closures below capture ONLY serializable values)
    val confEntries: Array[(String, String)] = {
      val it = conf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val confBc = spark.sparkContext.broadcast(confEntries)
    val schemaJson = avroSchemaJson
    val fileRdd = spark.sparkContext.parallelize(files,
      math.max(1, math.min(files.size, 64)))
    val bad = fileRdd.flatMap { f =>
      // raw-record probe (full decode validation, no Row conversion) +
      // ONE representative Row conversion so schema-shaped conversion
      // failures quarantine here instead of crashing the survivor pass
      try {
        val (reader, in) = openReader(f, confBc.value, schemaJson)
        try {
          val st = schemaOfJson(schemaJson)
          var first = true
          while (reader.hasNext) {
            val rec = reader.next()
            if (first) { recordToRow(rec, st); first = false }
          }
        }
        finally { reader.close(); in.close() }
        None
      } catch { case e: Exception => Some(f -> e.getClass.getName) }
    }.collect().map(_._1).sorted.toSeq
    val badSet = bad.toSet
    val goodFiles = files.filterNot(badSet)
    val goodRdd = spark.sparkContext.parallelize(goodFiles,
      math.max(1, math.min(math.max(goodFiles.size, 1), 64)))
      .flatMap(f => decodeStream(f, confBc.value, schemaJson))
    (spark.createDataFrame(goodRdd, sparkSchema), bad)
  }

  private def openReader(
      f: String,
      confEntries: Array[(String, String)],
      schemaJson: String): (org.apache.avro.file.DataFileStream[GenericRecord],
        org.apache.hadoop.fs.FSDataInputStream) = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    confEntries.foreach { case (k, v) => c.set(k, v) }
    val path = new org.apache.hadoop.fs.Path(f)
    val in = path.getFileSystem(c).open(path)
    val reader = new org.apache.avro.file.DataFileStream[GenericRecord](
      in, new org.apache.avro.generic.GenericDatumReader[GenericRecord](
        new Schema.Parser().parse(schemaJson)))
    (reader, in)
  }

  /** Stream one probed-intact container file as Rows, closing the reader
    * on exhaustion — plus a task-completion listener for the cases where
    * the iterator is abandoned mid-stream (limit, task kill); static so
    * task closures capture no driver-side state. */
  private def decodeStream(
      f: String,
      confEntries: Array[(String, String)],
      schemaJson: String): Iterator[Row] = {
    val (reader, in) = openReader(f, confEntries, schemaJson)
    val st = schemaOfJson(schemaJson)
    val decode = rowReader(new Schema.Parser().parse(schemaJson), st)
    var closed = false
    def closeNow(): Unit =
      if (!closed) { closed = true; reader.close(); in.close() }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeNow()))
    new Iterator[Row] {
      def hasNext: Boolean = {
        if (closed) false
        else if (reader.hasNext) true
        else { closeNow(); false }
      }
      def next(): Row =
        if (hasNext) decode(reader.next())
        else throw new NoSuchElementException("exhausted: " + f)
    }
  }
}
