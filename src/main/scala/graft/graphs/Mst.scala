package graft.graphs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimum spanning forest via Borůvka rounds — the reference's `Prime`
  * (Prim MST) stub (algorithms.h:218-221, which cites the GraphX programming
  * guide) done with the scalable algorithm: Prim grows one tree serially,
  * Borůvka lets every component pick its lightest outgoing edge in parallel
  * (one join + one min_by aggregation per round) and halves the component
  * count each round — O(log V) rounds of pure DataFrame ops.
  *
  * Requires distinct edge weights (caller tiebreaks); then the MSF is unique
  * and no cycle can form.
  */
object Mst {

  /** @param edges canonical undirected edges (a < b, distinct weights w)
    * @return the forest's edges (a, b, w)
    */
  def boruvka(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    import graft.engine.{Fixpoint, LoopConf}
    // Size the loop's shuffles to the graph (the working set only shrinks
    // from here, so the initial |E| is the right bound for every round).
    val e0 = edges.cache()
    val m = e0.count()
    LoopConf.withShuffleParts(s, LoopConf.loopParallelism(s, m)) {
    // The loop carries the RELABELED edge list itself (init: each endpoint
    // is its own component, so no label join is needed at all) and contracts
    // it in place each round. The working set shrinks geometrically with the
    // component count, instead of re-joining the full edge list against a
    // label table every round.
    val cur0 = e0.select($"a", $"b", $"w", $"a".as("ca"), $"b".as("cb"))
      .localCheckpoint()
    e0.unpersist()
    val mst0 = Seq.empty[(Long, Long, Double)].toDF("a", "b", "w")
    Fixpoint((cur0, mst0)) { case ((cur, mst), _) =>
      // Lazy: counting it materializes the checkpoint in the same job.
      val cross = cur.filter($"ca" =!= $"cb").localCheckpoint(eager = false)
      val n = Fixpoint.rows(cross)
      if (n == 0) Fixpoint.Step((cur, mst), 0, Seq(cross))
      else {
        // Each component nominates its lightest outgoing edge (from either
        // endpoint's perspective); a doubly-nominated edge dedupes.
        val nominated = cross.select(
            explode(array($"ca", $"cb")).as("c"), $"a", $"b", $"w", $"ca", $"cb")
          .groupBy($"c")
          .agg(min_by(struct($"a", $"b", $"w", $"ca", $"cb"), $"w").as("e"))
          .select($"e.a".as("a"), $"e.b".as("b"), $"e.w".as("w"),
            $"e.ca".as("ca"), $"e.cb".as("cb"))
          .distinct()
          // Lazy: wcc's size count below materializes it.
          .localCheckpoint(eager = false)
        // Contract over the component-merge graph: its WCC labels map each
        // old component to its merged one. It has at most one edge per
        // component, and the component count halves every round, so
        // [[GraphOps.wcc]] soon runs on the driver.
        val mapping = GraphOps.wcc(s, nominated.select($"ca".as("src"), $"cb".as("dst")))
          .select($"id".as("old_comp"), $"comp".as("new_comp"))
        // Contract: relabel both endpoints of the surviving cross edges.
        val next = cross
          .join(mapping.as("ma"), $"ca" === $"ma.old_comp", "left")
          .join(mapping.as("mb"), $"cb" === $"mb.old_comp", "left")
          .select($"a", $"b", $"w",
            coalesce($"ma.new_comp", $"ca").as("ca"),
            coalesce($"mb.new_comp", $"cb").as("cb"))
          .localCheckpoint()
        // nominated is already checkpointed — the union is lineage-free,
        // and Fixpoint keeps every round's nominations it reads.
        Fixpoint.Step((next, mst.union(nominated.select($"a", $"b", $"w"))),
          n, Seq(cross, mapping))
      }
    } { case (_, mst) => mst }.result
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Oracle-checked since round 5: Borůvka is not ONE SQL statement, but a
    // STATICALLY UNROLLED Borůvka (components at least halve per round, and
    // vertex ids are mod 1000, so 12 rounds always converge) is — see
    // [[boruvkaOracle]]. MstSpec additionally pins a hand golden.
    "g11_mst" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.sparseEdges(s, dir)
        .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
        .filter($"a" =!= $"b").distinct()
        // Distinct weights: base in [1,9] + a unique per-edge fraction.
        .withColumn("w",
          (($"a" * 7 + $"b" * 13) % 9 + 1).cast("double") +
            ($"a" * 1000 + $"b").cast("double") / 1e9)
      val mst = boruvka(s, e)
      mst.agg(count(lit(1)).as("n_edges"),
        graft.Canon.sig6(sum($"w")).as("total_w"))
    }),
  )

  /** DuckDB oracle for g11: Borůvka statically unrolled to `rounds` rounds.
    *
    * Each round r (given the cumulative chosen-edge set ch{r-1}):
    *   1. component labels = min-label closure over the chosen edges (the
    *      same recursive-CTE WCC as the g04 oracle);
    *   2. every component nominates its minimum-weight outgoing edge
    *      (row_number over both endpoint perspectives — `min_by` in SQL);
    *   3. ch{r} = ch{r-1} ∪ nominations (UNION dedups the doubly-nominated).
    * Round 1 skips the closure (every vertex is its own component). With
    * distinct weights the forest is unique, so this is exactly what
    * [[boruvka]] computes. Components at least halve per round and the
    * derived graph has ≤ 1000 vertices (ids are mod 1000), so 12 rounds are
    * always enough; converged rounds are idempotent (no cross edges ⇒ no
    * nominations). `AS MATERIALIZED` pins each round's working set so the
    * optimizer cannot inline a cascade of re-scans of the parquet view.
    */
  private def boruvkaOracle(rounds: Int): String = {
    val weighted =
      s"""e0 AS MATERIALIZED (${GraphQueries.sparseEdgesSql}),
         |ew AS MATERIALIZED (
         |  SELECT a, b, CAST((a*7 + b*13) % 9 + 1 AS DOUBLE)
         |         + CAST(a*1000 + b AS DOUBLE)/1e9 AS w
         |  FROM (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
         |        FROM e0))""".stripMargin
    def nominate(src: String, alias: String): String =
      s"""$alias AS (SELECT DISTINCT a, b, w FROM (
         |  SELECT a, b, w, row_number() OVER (PARTITION BY c ORDER BY w) AS rn
         |  FROM (SELECT ca AS c, a, b, w FROM $src
         |        UNION ALL SELECT cb AS c, a, b, w FROM $src) t) s
         | WHERE rn = 1)""".stripMargin
    val round1 = nominate(
      "(SELECT a, b, w, a AS ca, b AS cb FROM ew) r1", "ch1")
    val later = (2 to rounds).map { r =>
      val p = r - 1
      s"""ue$r AS (SELECT a AS s, b AS d FROM ch$p
         |         UNION SELECT b, a FROM ch$p),
         |cc$r AS (SELECT s AS id, s AS comp FROM ue$r
         |         UNION SELECT ue$r.d, cc$r.comp FROM cc$r
         |         JOIN ue$r ON ue$r.s = cc$r.id WHERE cc$r.comp < ue$r.d),
         |lab$r AS (SELECT id, min(comp) AS comp FROM cc$r GROUP BY id),
         |cr$r AS (SELECT ew.a, ew.b, ew.w, la.comp AS ca, lb.comp AS cb
         |         FROM ew JOIN lab$r la ON la.id = ew.a
         |         JOIN lab$r lb ON lb.id = ew.b
         |         WHERE la.comp <> lb.comp),
         |${nominate(s"cr$r", s"nom$r")},
         |ch$r AS MATERIALIZED (SELECT a, b, w FROM ch$p
         |        UNION SELECT a, b, w FROM nom$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $weighted,
       |$round1,
       |$later
       |SELECT count(*) AS n_edges,
       |       ${graft.Canon.sig6Sql(s"sum(w)")} AS total_w
       |FROM ch$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "g11_mst" -> boruvkaOracle(rounds = 12),
  )
}
