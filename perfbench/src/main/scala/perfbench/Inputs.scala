package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded inputs. Every input is a pure function of the seed, so the same
  * seed gives the same inputs on any engine version.
  */
object Inputs {

  /** A uniform random digraph: edge `i` in `[0, n·k)` runs from `i mod n` to
    * `xxhash64(seed, i) mod n`; self-loops are dropped, parallel edges kept.
    * The hash is Spark's xxhash64 (an input definition, not engine code), so
    * Spark and the plain-array reference generate the same edges.
    */
  final case class Digraph(n: Long, k: Int, seed: Long) {
    def slots: Long = n * k

    private val seedHash = XXH64.hashLong(seed, 42L)

    def dst(i: Long): Long = java.lang.Math.floorMod(XXH64.hashLong(i, seedHash), n)

    def edges(spark: SparkSession): DataFrame = {
      import spark.implicits._
      spark.range(slots)
        .select(($"id" % n).as("src"),
          pmod(xxhash64(lit(seed), $"id"), lit(n)).as("dst"))
        .filter($"src" =!= $"dst")
    }

    def vertices(spark: SparkSession): DataFrame = spark.range(n).toDF("id")

    /** Out-adjacency in CSR form, built without Spark. */
    def csr(): Csr = {
      val nn = n.toInt
      val src = new Array[Int](slots.toInt)
      val dsts = new Array[Int](slots.toInt)
      var m = 0
      var i = 0L
      while (i < slots) {
        val s = (i % n).toInt
        val d = dst(i).toInt
        if (s != d) { src(m) = s; dsts(m) = d; m += 1 }
        i += 1
      }
      Csr.fromPairs(nn, src, dsts, m)
    }
  }

  /** Compressed out-adjacency: the targets of `v` are `adj(off(v) until off(v+1))`. */
  final case class Csr(n: Int, off: Array[Int], adj: Array[Int]) {
    def m: Int = adj.length
    def outDeg(v: Int): Int = off(v + 1) - off(v)
  }

  object Csr {
    def fromPairs(n: Int, src: Array[Int], dst: Array[Int], m: Int): Csr = {
      val off = new Array[Int](n + 1)
      var j = 0
      while (j < m) { off(src(j) + 1) += 1; j += 1 }
      var v = 0
      while (v < n) { off(v + 1) += off(v); v += 1 }
      val fill = off.clone()
      val adj = new Array[Int](m)
      j = 0
      while (j < m) { adj(fill(src(j))) = dst(j); fill(src(j)) += 1; j += 1 }
      Csr(n, off, adj)
    }
  }

  /** The two columns of `orders` and `lineitem` the graph registry reads,
    * shaped like the sf0.01 test tables: 15,000 orders with keys from 0,
    * customer keys uniform below 1,500, one to seven line items per order
    * with part keys uniform below 2,000. Written as parquet under
    * `dir`, where both Spark and the DuckDB oracles read them. Returns the
    * number of edges in the registry's derived edge view
    * (`o_custkey % 1000 -> o_orderkey % 1000`, distinct, no self-loops).
    */
  def writeOrderTables(spark: SparkSession, dir: String, seed: Long): Int = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val ord = (0 until 15000).map(o => (o.toLong, rng.nextInt(1500).toLong))
    val li = ord.flatMap { case (o, _) =>
      (1 to 1 + rng.nextInt(7)).map(_ => (o, rng.nextInt(2000).toLong))
    }
    ord.toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    ord.map { case (o, cu) => (cu % 1000, o % 1000) }.filter(e => e._1 != e._2)
      .distinct.length
  }
}
