package graft

import java.sql.{Date, Timestamp}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Avro

/** [[graft.io.AvroSource]] + [[graft.io.Avro.write]]: type-surface
  * round-trip fidelity, sync-marker split completeness, projection
  * pushdown, real-table round trips. */
class AvroSpec extends AnyFunSuite with SparkTestBase {

  private def collectSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("round-trip preserves every supported type, nulls included") {
    val schema = StructType(Seq(
      StructField("b", BooleanType),
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("af", ArrayType(FloatType, containsNull = false)),
      StructField("as", ArrayType(StringType, containsNull = true))))
    val rows = Seq(
      Row(true, 1, 10L, 1.5f, 2.5, "alpha", Array[Byte](1, 2, 3),
        Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 12:34:56.789012"),
        Seq(1.0f, -2.0f), Seq("x", null, "z")),
      Row(null, null, null, null, null, null, null, null, null, null, null),
      Row(false, -7, -70L, -0.5f, 0.0, "", Array.empty[Byte],
        Date.valueOf("1970-01-01"), Timestamp.valueOf("1970-01-01 00:00:00.000001"),
        Seq.empty[Float], Seq.empty[String]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)
    val out = "/tmp/graft_test/avro_types"
    Avro.write(df, out)
    val back = spark.read.format("graft_avro").load(out)
    assert(back.schema === schema)
    // byte arrays compare by JVM identity in Row.toString: hex them
    def canon(d: org.apache.spark.sql.DataFrame) =
      collectSet(d.withColumn("bin", hex(col("bin"))))
    assert(canon(back) === canon(df))
  }

  test("byte-range splits: many partitions, identical rows at any splitBytes") {
    import spark.implicits._
    val df = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_shipdate")
    val out = "/tmp/graft_test/avro_splits"
    // ONE input partition -> one container file, so every extra read
    // partition below can only come from sync-marker byte splitting
    Avro.write(df.coalesce(1), out)
    val whole = spark.read.format("graft_avro").load(out)
    val split = spark.read.format("graft_avro")
      .option("splitBytes", 4 * 1024).load(out)
    assert(split.rdd.getNumPartitions > 4,
      s"a 4 KB splitBytes must split the file, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions == 1)
    assert(collectSet(split) === collectSet(whole),
      "split boundaries must never duplicate or drop a block")
    assert(split.count() === df.count())
  }

  test("projection pushdown reaches the avro reader schema") {
    import spark.implicits._
    val out = "/tmp/graft_test/avro_splits" // written above
    val pruned = spark.read.format("graft_avro").load(out)
      .select($"l_orderkey", $"l_returnflag")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema=struct<l_orderkey:bigint,l_returnflag:string>"),
      s"pruned projection must reach the avro reader schema:\n$p")
  }

  test("nested records, maps, and arrays-of-structs round-trip, nulls at every level") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pricing", StructType(Seq(
        StructField("price", DoubleType),
        StructField("disc", DoubleType),
        StructField("inner", StructType(Seq(
          StructField("tax", DoubleType))))))),
      StructField("tags", MapType(StringType, LongType, valueContainsNull = true)),
      StructField("legs", ArrayType(StructType(Seq(
        StructField("src", StringType),
        StructField("n", IntegerType))), containsNull = true))))
    val rows = Seq(
      Row(1L, Row(9.5, 0.1, Row(0.07)), Map("a" -> 1L, "b" -> null),
        Seq(Row("x", 1), null, Row(null, 3))),
      Row(2L, null, null, null),
      Row(3L, Row(null, 2.0, null), Map.empty[String, Long], Seq.empty[Row]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)
    val out = "/tmp/graft_test/avro_nested"
    Avro.write(df, out)
    val back = spark.read.format("graft_avro").load(out)
    assert(back.schema === schema)
    // map iteration order is engine-private: canonicalize via sorted
    // entry rendering before comparing
    def canon(d: org.apache.spark.sql.DataFrame) = collectSet(
      d.withColumn("tags", expr(
        "array_sort(transform(map_entries(tags), e -> concat(e.key, '=', coalesce(cast(e.value as string), 'null'))))")))
    assert(canon(back) === canon(df))
  }

  test("direct-encoder write path is value-identical to the GenericRecord path") {
    // Avro.write streams rows straight into the Avro binary encoder (no
    // GenericRecord); AvroSpec.writeGeneric is the GenericRecord
    // reference — this pin reads BOTH back and compares every value,
    // nulls at every level, nested + map + array included
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("pricing", StructType(Seq(
        StructField("price", DoubleType),
        StructField("inner", StructType(Seq(
          StructField("tax", DoubleType))))))),
      StructField("tags", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("legs", ArrayType(StructType(Seq(
        StructField("src", StringType),
        StructField("n", IntegerType))), containsNull = true)),
      StructField("af", ArrayType(FloatType, containsNull = false))))
    val rows = Seq(
      Row(1L, "alpha", Row(9.5, Row(0.07)), Map("a" -> "x", "b" -> null),
        Seq(Row("x", 1), null, Row(null, 3)), Seq(1.0f, -2.5f)),
      Row(2L, null, null, null, null, Seq.empty[Float]),
      Row(3L, "", Row(null, null), Map.empty[String, String], Seq.empty[Row],
        Seq(Float.NaN, Float.MinPositiveValue)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)
    val dOut = "/tmp/graft_test/avro_direct"
    val gOut = "/tmp/graft_test/avro_generic"
    Avro.write(df, dOut, codec = "snappy")
    AvroSpec.writeGeneric(df, gOut, codec = "snappy")
    val d = spark.read.format("graft_avro").load(dOut)
    val g = spark.read.format("graft_avro").load(gOut)
    assert(d.schema === g.schema)
    def canon(x: org.apache.spark.sql.DataFrame) = collectSet(
      x.withColumn("tags", expr(
        "array_sort(transform(map_entries(tags), e -> concat(e.key, '=', coalesce(e.value, 'null'))))")))
    assert(canon(d) === canon(g))
  }

  test("nested pruning reaches INSIDE the record at the avro reader schema") {
    import spark.implicits._
    // self-contained write (no dependence on another test's output dir)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pricing", StructType(Seq(
        StructField("price", DoubleType),
        StructField("disc", DoubleType),
        StructField("inner", StructType(Seq(
          StructField("tax", DoubleType)))))))))
    val rows = Seq(Row(1L, Row(9.5, 0.1, Row(0.07))), Row(2L, null),
      Row(3L, Row(null, 2.0, null)))
    val out = "/tmp/graft_test/avro_nested_prune"
    Avro.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema), out)
    val pruned = spark.read.format("graft_avro").load(out)
      .select($"id", $"pricing.price")
    val p = pruned.queryExecution.executedPlan.toString
    // Spark's nested schema pruning hands the scan a struct holding
    // ONLY the touched subfield; the scan description proves disc and
    // inner never reach the reader schema (so Avro resolution skips
    // them at the decoder)
    assert(p.contains("pricing:struct<price:double>"),
      s"reader schema must hold only the touched subfield:\n$p")
    assert(!p.contains("disc"), s"untouched sibling must be pruned:\n$p")
    assert(pruned.collect().map(_.toString).toSet ===
      Set("[1,9.5]", "[2,null]", "[3,null]"))
  }

  test("embeddings round-trip: array<float> column is bit-exact") {
    import spark.implicits._
    val df = spark.read.parquet(sf("embeddings"))
    val out = "/tmp/graft_test/avro_embeddings"
    Avro.write(df, out)
    val back = spark.read.format("graft_avro").load(out)
    assert(collectSet(back) === collectSet(df))
  }

  test("snappy and null codecs round-trip like deflate") {
    import spark.implicits._
    val df = spark.read.parquet(sf("nation"))
    for (codec <- Seq("snappy", "null")) {
      val out = s"/tmp/graft_test/avro_codec_$codec"
      Avro.write(df, out, codec = codec)
      assert(collectSet(spark.read.format("graft_avro").load(out)) === collectSet(df),
        s"codec $codec")
    }
  }

  test("an empty dataframe still writes its schema") {
    import spark.implicits._
    val df = spark.read.parquet(sf("nation")).filter($"n_nationkey" < -1)
    val out = "/tmp/graft_test/avro_empty"
    Avro.write(df, out)
    val back = spark.read.format("graft_avro").load(out)
    assert(back.schema.fieldNames.toSeq === df.schema.fieldNames.toSeq)
    assert(back.count() === 0)
  }
}

object AvroSpec {

  /** The GenericRecord reference encoder [[graft.io.Avro.write]]'s
    * direct binary encoder is pinned value-identical against: one
    * container file per input partition (partition 0 always, so an
    * empty frame still carries its schema), each row built as a
    * GenericData.Record and written through GenericDatumWriter. Local
    * filesystem only. */
  def writeGeneric(df: DataFrame, path: String, codec: String): Unit = {
    val schema = df.schema
    val avroJson = graft.io.AvroConversions.toAvroSchema(schema).toString
    val dir = new java.io.File(path)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    df.queryExecution.toRdd.mapPartitionsWithIndex { (idx, it) =>
      if (idx == 0 || it.hasNext) {
        val avroSchema = new ASchema.Parser().parse(avroJson)
        // converters built per partition against the parsed schema
        // instance — nested records need their exact Avro schema node
        // to construct GenericData.Record
        val writeConv = schema.fields.zip(avroSchema.getFields.asScala).map {
          case (f, af) => writeConverter(f.dataType, af.schema())
        }
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
        w.setCodec(CodecFactory.fromString(codec))
        w.create(avroSchema, new java.io.File(dir, f"part-$idx%05d.avro"))
        try it.foreach { row =>
          val rec = new GenericData.Record(avroSchema)
          var i = 0
          while (i < writeConv.length) {
            rec.put(i, if (row.isNullAt(i)) null else writeConv(i)(row, i))
            i += 1
          }
          w.append(rec)
        } finally w.close()
      }
      Iterator.single(0)
    }.count()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    ()
  }

  /** Catalyst value at position i -> Avro runtime value, for one
    * NON-NULL slot (nulls handled by the caller). Unified on
    * [[SpecializedGetters]], which InternalRow, ArrayData, and a
    * MapData's key/value arrays all implement — one recursive
    * converter tree serves rows, array elements, and map values.
    * `avro` is this slot's schema node (possibly a [null, T] union). */
  private def writeConverter(dt: DataType,
                             avro: ASchema): (SpecializedGetters, Int) => AnyRef = {
    val a = if (avro.getType == ASchema.Type.UNION)
      avro.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
    else avro
    dt match {
      case BooleanType => (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i))
      case IntegerType | DateType => (r, i) => java.lang.Integer.valueOf(r.getInt(i))
      case LongType | TimestampType | TimestampNTZType =>
        (r, i) => java.lang.Long.valueOf(r.getLong(i))
      case FloatType => (r, i) => java.lang.Float.valueOf(r.getFloat(i))
      case DoubleType => (r, i) => java.lang.Double.valueOf(r.getDouble(i))
      case StringType => (r, i) => r.getUTF8String(i).toString
      case BinaryType => (r, i) => java.nio.ByteBuffer.wrap(r.getBinary(i))
      case d: DecimalType => (r, i) => java.nio.ByteBuffer.wrap(
        r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .unscaledValue().toByteArray)
      case ArrayType(et, _) =>
        val elemConv = writeConverter(et, a.getElementType)
        (r, i) => {
          val ad = r.getArray(i)
          val out = new util.ArrayList[AnyRef](ad.numElements())
          var j = 0
          while (j < ad.numElements()) {
            out.add(if (ad.isNullAt(j)) null else elemConv(ad, j))
            j += 1
          }
          out
        }
      case st: StructType =>
        val convs = st.fields.zip(a.getFields.asScala).map {
          case (f, af) => writeConverter(f.dataType, af.schema())
        }
        (r, i) => {
          val row = r.getStruct(i, convs.length)
          val rec = new GenericData.Record(a)
          var j = 0
          while (j < convs.length) {
            rec.put(j, if (row.isNullAt(j)) null else convs(j)(row, j))
            j += 1
          }
          rec
        }
      case MapType(StringType, vt, _) =>
        val valConv = writeConverter(vt, a.getValueType)
        (r, i) => {
          val m = r.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          val out = new util.HashMap[String, AnyRef](m.numElements() * 2)
          var j = 0
          while (j < m.numElements()) {
            out.put(ks.getUTF8String(j).toString,
              if (vs.isNullAt(j)) null else valConv(vs, j))
            j += 1
          }
          out
        }
      case other => throw new IllegalArgumentException(
        s"unsupported Spark type $other")
    }
  }
}
