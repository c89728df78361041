package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", DoubleType), StructField("b", BinaryType),
    StructField("xs", ArrayType(LongType))))
  private val rows = Array(
    Row("a", 1.5, Array[Byte](1, 2), Seq(1L, 2L)),
    Row("b", -0.25, Array[Byte](3), Seq.empty[Long]),
    Row(null, 1e-300, null, null),
    Row("a", 1.5, Array[Byte](1, 2), Seq(1L, 2L)))

  test("the digest does not depend on row order") {
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.reverse) == d)
    assert(Digest.of(schema, Array(rows(2), rows(0), rows(3), rows(1))) == d)
  }

  test("the digest sees duplicates, values and the schema") {
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.take(3)) != d)
    assert(Digest.of(schema, rows.updated(1, Row("b", -0.5, Array[Byte](3), Seq.empty[Long]))) != d)
    assert(Digest.of(schema, rows.updated(1, Row("b", -0.25, Array[Byte](4), Seq.empty[Long]))) != d)
    assert(Digest.of(StructType(schema.fields.updated(0, StructField("key", StringType))), rows) != d)
  }

  test("binary values digest by content, not identity") {
    val a = Array(Row(Array[Byte](9, 8, 7)))
    val b = Array(Row(Array[Byte](9, 8, 7)))
    val s = StructType(Seq(StructField("b", BinaryType)))
    assert(Digest.of(s, a) == Digest.of(s, b))
  }
}
