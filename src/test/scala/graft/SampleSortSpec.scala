package graft

import org.scalatest.funsuite.AnyFunSuite

/** O15 — the reference's standalone MPI sample sort (samplesort.cpp:21-191:
  * local sort → splitter gather/bcast → Alltoallv → local sort) IS Spark's
  * `orderBy`: RangePartitioner samples keys, broadcasts range splitters, and
  * shuffles into sorted ranges. This spec runs the reference's own fixture
  * (sampledata/number.part.{0,1,2}) through it and checks the golden
  * (globally sorted concatenation).
  */
class SampleSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("distributed sort over the reference sample fixture matches golden") {
    import spark.implicits._
    val nums = spark.read
      .text(Fixtures("sampledata/number.part.*"))
      .as[String]
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty).map(_.toInt))
    val sorted = nums.orderBy($"value").collect()
    assert(sorted.length == 300) // 3 files x 100 ints
    assert(sorted.toSeq == sorted.toSeq.sorted)
    // multiset preserved
    val expected = nums.collect().sorted
    assert(sorted.toSeq == expected.toSeq)
  }
}
