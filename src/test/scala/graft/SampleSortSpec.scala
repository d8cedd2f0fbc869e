package graft

import org.scalatest.funsuite.AnyFunSuite

/** O15 — the reference's standalone MPI sample sort (samplesort.cpp:21-191:
  * local sort → splitter gather/bcast → Alltoallv → local sort) IS Spark's
  * `orderBy`: RangePartitioner samples keys, broadcasts range splitters, and
  * shuffles into sorted ranges. This spec runs a fixture of the reference's
  * shape (sampledata/number.part.{0,1,2}: 100 ints in 0–999 per file)
  * through it and checks the golden (globally sorted concatenation). The
  * reference's files are not shipped; the committed ones are a seeded
  * stand-in (FIXTURES.md §2), and no assertion depends on their values.
  */
class SampleSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("distributed sort over the reference sample fixture matches golden") {
    import spark.implicits._
    val nums = spark.read
      .text((0 to 2).map(i =>
        getClass.getResource(s"/sampledata/number.part.$i").getPath): _*)
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
