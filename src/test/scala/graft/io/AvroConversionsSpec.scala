package graft.io

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => ASchema, SchemaBuilder}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-level pins for [[AvroConversions]] — no Spark session, pure
  * conversion logic. Both tests pin round-13 review findings. */
class AvroConversionsSpec extends AnyFunSuite {

  test("nested record names stay unique when field names contain underscores") {
    // a.b_c and a_b.c path-join to the same string; path-derived
    // record names made the second a REFERENCE to the first and one
    // record silently took the other's shape
    val schema = StructType(Seq(
      StructField("a", StructType(Seq(
        StructField("b_c", StructType(Seq(
          StructField("x", IntegerType, nullable = false))), nullable = false))),
        nullable = false),
      StructField("a_b", StructType(Seq(
        StructField("c", StructType(Seq(
          StructField("y", StringType, nullable = false))), nullable = false))),
        nullable = false)))
    val avro = AvroConversions.toAvroSchema(schema)
    // serialize + reparse (exactly what the executor-side writer does):
    // a duplicate full name would come back with the FIRST record's
    // shape in both positions
    val reparsed = new ASchema.Parser().parse(avro.toString)
    val leaf1 = reparsed.getField("a").schema().getField("b_c").schema()
    val leaf2 = reparsed.getField("a_b").schema().getField("c").schema()
    assert(leaf1.getFields.asScala.map(_.name()).toList == List("x"))
    assert(leaf2.getFields.asScala.map(_.name()).toList == List("y"),
      s"duplicate record names collapse distinct shapes: $reparsed")
    // and the round-trip back to Spark reproduces the schema exactly
    assert(AvroConversions.toSparkSchema(reparsed) === schema)
  }

  test("pruning preserves a foreign [T, null] union's branch order and non-null default") {
    // files written by other tools use [int, null] with a non-null
    // default; Avro validates a field default against the FIRST union
    // branch, so rewrapping as [null, int] threw at reader-schema
    // construction for a file that read fine unpruned
    val writer = SchemaBuilder.record("ext_row").namespace("ext").fields()
      .name("k").`type`().longType().noDefault()
      .name("v").`type`(ASchema.createUnion(
        ASchema.create(ASchema.Type.INT), ASchema.create(ASchema.Type.NULL)))
      .withDefault(0)
      .endRecord()
    val required = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", IntegerType, nullable = true)))
    val pruned = AvroConversions.evolvedReaderSchema(writer, writer, required)
    val v = pruned.getField("v")
    assert(v.schema().getTypes.asScala.map(_.getType).toList ==
      List(ASchema.Type.INT, ASchema.Type.NULL),
      "writer branch order must survive pruning")
    assert(v.defaultVal() == Integer.valueOf(0),
      "the non-null default must survive (and validate against branch 0)")
  }

  test("multi-branch unions map to member-structs / numeric promotions; pruning keeps every branch") {
    // round 14: [null, int, string] reads as a nullable
    // struct<member0 int, member1 string> (spark-avro's documented
    // convention); {int,long} and {float,double} widen. The reader
    // schema keeps ALL branches even when the projection drops a
    // member — resolution must still decode datums of that branch.
    val writer = SchemaBuilder.record("m").fields()
      .name("u").`type`(ASchema.createUnion(
        ASchema.create(ASchema.Type.NULL),
        ASchema.create(ASchema.Type.INT),
        ASchema.create(ASchema.Type.STRING))).withDefault(null)
      .name("n").`type`(ASchema.createUnion(
        ASchema.create(ASchema.Type.INT),
        ASchema.create(ASchema.Type.LONG))).noDefault()
      .name("d").`type`(ASchema.createUnion(
        ASchema.create(ASchema.Type.FLOAT),
        ASchema.create(ASchema.Type.DOUBLE),
        ASchema.create(ASchema.Type.NULL))).noDefault()
      .endRecord()
    val spark = AvroConversions.toSparkSchema(writer)
    assert(spark === StructType(Seq(
      StructField("u", StructType(Seq(
        StructField("member0", IntegerType, nullable = true),
        StructField("member1", StringType, nullable = true))), nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("d", DoubleType, nullable = true))), spark.treeString)
    // prune u to member1 only: the union subtree survives UNPRUNED
    val required = StructType(Seq(
      StructField("u", StructType(Seq(
        StructField("member1", StringType, nullable = true))), nullable = true)))
    val pruned = AvroConversions.evolvedReaderSchema(writer, writer, required)
    assert(pruned.getField("u").schema().getTypes.asScala.map(_.getType).toList ==
      List(ASchema.Type.NULL, ASchema.Type.INT, ASchema.Type.STRING),
      "multi-branch unions must keep every branch through pruning")
  }

  test("split planning marks exactly one tail split per file, covering to the file end") {
    // the truncation guard hangs off isTail — a planner regression
    // that dropped or duplicated the mark would either skip the guard
    // (silent loss returns) or run it spuriously mid-file
    val tmp = new java.io.File("/tmp/graft_test/avro_plan_pin")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    tmp.mkdirs()
    for ((name, len) <- Seq("a.avro" -> 10000, "b.avro" -> 4096, "c.avro" -> 100))
      java.nio.file.Files.write(new java.io.File(tmp, name).toPath,
        new Array[Byte](len))
    val scan = AvroScan(
      StructType(Seq(StructField("x", IntegerType))),
      StructType(Seq(StructField("x", IntegerType))),
      AvroSourceOptions(Seq(tmp.toString), splitBytes = 4096))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[AvroSplitPartition])
    assert(parts.length == 3 + 1 + 1, parts.mkString(","))  // ceil(10000/4096)=3
    for (path <- parts.map(_.path).distinct) {
      val mine = parts.filter(_.path == path)
      val tails = mine.filter(_.isTail)
      assert(tails.length == 1, s"$path must have exactly one tail split")
      assert(tails.head.end == mine.map(_.end).max,
        s"$path tail split must own the file end")
    }
  }
}
