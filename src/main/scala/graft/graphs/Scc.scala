package graft.graphs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.Algorithms
import graft.engine.{Fixpoint, GmrAlgorithm, GmrRunner, GraphMeta}

/** Strongly connected components THROUGH THE ENGINE — the FW-BW-coloring
  * algorithm (Orzan's coloring / forward-backward family) driver-orchestrated
  * over two [[graft.engine.GmrAlgorithm]] fixpoints per peel round:
  *
  *   1. forward max-color ([[Algorithms.FwdMaxColor]]): color(v) = max id
  *      reaching v. Every color class has exactly one root (color(r) = r),
  *      and SCC(r) ⊆ its color class.
  *   2. backward reach within the color class: transpose the color-matched
  *      edge subgraph, add a virtual source with an edge to every root, and
  *      run plain [[Algorithms.Sssp]] — finite distance ⟺ the vertex reaches
  *      its own color root inside its class ⟺ it is in that root's SCC
  *      (any intermediate vertex of such a path provably carries the same
  *      color, so the restriction is exact).
  *
  * Settled SCCs are labeled min(id) (the g09 oracle's labeling), removed,
  * and the peel repeats. Each coloring round is preceded by the standard
  * TRIM step (iterated to fixpoint): vertices with zero in- or out-degree
  * in the remaining subgraph are singleton SCCs and settle without an
  * engine fixpoint, so chain-shaped condensations — the adversarial case
  * where coloring rounds were linear in #SCC — collapse in the trim loop
  * and the coloring pays only for rounds with actual cycles (SccSpec pins
  * both shapes via [[sccEngineRun]]). Both inner fixpoints
  * run with an iteration budget of |V|+1 (label propagation converges
  * within the diameter; the default 120-round cap would silently truncate
  * long cycles). Everything on the data path is joins + engine runs; the
  * peel and trim loops run through [[Fixpoint]], which frees each
  * superseded round's checkpoints once the next state is materialized.
  */
object Scc {

  /** `alg` with its iteration cap raised to `cap` — propagation fixpoints
    * inside the peel must never stop early, or partial colors silently
    * split components.
    */
  private[graphs] def withCap(alg: GmrAlgorithm, cap: Int): GmrAlgorithm =
    new graft.engine.DelegatingGmrAlgorithm(alg) {
      override def maxIter: Int = cap
    }

  /** The backward phase's virtual source — also the root-linking source of
    * [[GraphOps.bipartite]]'s parity BFS. Vertex ids must be ≥ 0.
    */
  private[graphs] val VirtualSource: Long = -1L

  /** Peel state: labels settled so far, the remaining subgraph, |vRem|. */
  private final case class Peel(result: DataFrame, vRem: DataFrame,
                                eRem: DataFrame, remaining: Long)

  /** SCC labels (id, comp = min id of the component) for the directed graph
    * `edgeDf(src, dst)`. Vertex ids must be ≥ 0 (one negative id is
    * reserved for the backward phase's virtual source).
    */
  def sccEngine(s: SparkSession, edgeDf: DataFrame): DataFrame =
    sccEngineRun(s, edgeDf).result

  /** [[sccEngine]] plus one record per peel round; its `changedRounds` is
    * the number of FW-BW coloring rounds (trim passes run inside a round).
    */
  def sccEngineRun(s: SparkSession, edgeDf: DataFrame): Fixpoint.Run[DataFrame] = {
    import s.implicits._

    val eRem = edgeDf.select($"src", $"dst").distinct().localCheckpoint()
    val vRem = eRem.select($"src".as("id"))
      .union(eRem.select($"dst".as("id"))).distinct().localCheckpoint()
    val remaining = vRem.count()
    require(remaining == 0 ||
      vRem.agg(min($"id")).head().getLong(0) >= 0,
      "sccEngine requires nonnegative vertex ids")
    // Propagation cap: a label needs at most |V| supersteps to cross the
    // graph; +1 for the virtual-source hop in the backward phase.
    val iterCap = math.min(remaining + 2, Int.MaxValue.toLong).toInt
    val init = Peel(s.emptyDataset[(Long, Long)].toDF("id", "comp")
      .localCheckpoint(), vRem, eRem, remaining)

    Fixpoint(init) { (st0, _) =>
      val st = trim(s, st0)
      if (st.remaining == 0) Fixpoint.Step(st, 0)
      else {
        val Peel(result, vRem, eRem, remaining) = st
        val mRem = eRem.count() // sizes the runner dispatch (local vs shuffled)
        // Phase 1: forward max-color over the remaining subgraph. auto
        // returns materialized rows, so the three reads below re-run nothing.
        val colors = GmrRunner.auto(s, vRem,
            eRem.withColumn("weight", lit(1.0)),
            withCap(Algorithms.FwdMaxColor, iterCap), GraphMeta(remaining),
            numEdges = mRem)
          .select($"id", $"value".cast("long").as("color"))
        // Phase 2: backward reach to the color root, inside the color class.
        val colorEdges = eRem
          .join(colors.as("cs"), $"src" === $"cs.id")
          .join(colors.as("cd"), $"dst" === $"cd.id")
          .filter($"cs.color" === $"cd.color")
          .select($"src", $"dst")
        val roots = colors.filter($"id" === $"color").select($"id")
        val bwdEdges = colorEdges
          .select($"dst".as("src"), $"src".as("dst")) // transpose
          .union(roots.select(lit(VirtualSource).as("src"), $"id".as("dst")))
          .withColumn("weight", lit(1.0))
        val bwdVerts = vRem.union(s.range(1).select(lit(VirtualSource).as("id")))
        // numEdges: transposed color-matched edges (≤ mRem) plus one virtual
        // edge per root (≤ remaining) — the conservative bound keeps the
        // local-vs-distributed dispatch from undercounting near the threshold.
        val reach = GmrRunner.auto(s, bwdVerts, bwdEdges,
          withCap(Algorithms.Sssp, iterCap),
          GraphMeta(remaining + 1, source = VirtualSource),
          numEdges = mRem + remaining)
        // Checkpointed: `settled` is read three times below (comp, the label
        // join, the anti-join) — without the checkpoint each read re-executes
        // the whole backward engine run.
        val settled = reach
          .filter($"value" =!= Double.PositiveInfinity && $"id" =!= VirtualSource)
          .select($"id")
          .join(colors, "id")
          .localCheckpoint()
        // g09 labeling: comp = min id of the SCC (color is the max id).
        val comp = settled.groupBy($"color").agg(min($"id").as("comp"))
        val labeled = settled.join(comp, "color").select($"id", $"comp")
        val vNext = vRem.join(labeled.select($"id"), Seq("id"), "left_anti")
          .localCheckpoint()
        val left = vNext.count()
        Fixpoint.Step(Peel(result.union(labeled).localCheckpoint(), vNext,
            restrict(s, eRem, vNext), left), remaining - left,
          Seq(result, vRem, eRem, colors, reach, settled))
      }
    }(_.result)
  }

  /** TRIM (standard FW-BW preprocessing), iterated to its own fixpoint: a
    * vertex with zero in- or zero out-degree in the remaining subgraph lies
    * on no cycle, so its SCC is the singleton {itself} — settle it with two
    * cheap aggregations instead of two engine fixpoints. A chain-shaped
    * condensation (the adversarial case where the peel was linear in #SCC
    * coloring rounds) collapses entirely here, each pass peeling both chain
    * ends.
    */
  private def trim(s: SparkSession, init: Peel): Peel = {
    import s.implicits._
    Fixpoint(init) { (st, _) =>
      if (st.remaining == 0) Fixpoint.Step(st, 0)
      else {
        val cyclic = st.eRem.select($"src".as("id")).distinct()
          .join(st.eRem.select($"dst".as("id")).distinct(), "id")
        val keep = st.vRem.join(cyclic, Seq("id"), "left_semi").localCheckpoint()
        val nKeep = keep.count()
        if (nKeep == st.remaining) Fixpoint.Step(st, 0, Seq(keep))
        else {
          val dropped = st.vRem.join(keep, Seq("id"), "left_anti")
            .select($"id", $"id".as("comp"))
          Fixpoint.Step(Peel(st.result.union(dropped).localCheckpoint(), keep,
            restrict(s, st.eRem, keep), nKeep), st.remaining - nKeep)
        }
      }
    }(identity).result
  }

  /** The edges of `eRem` with both endpoints in `vRem`, checkpointed. */
  private def restrict(s: SparkSession, eRem: DataFrame,
                       vRem: DataFrame): DataFrame = {
    import s.implicits._
    eRem
      .join(vRem.select($"id".as("src")), Seq("src"), "left_semi")
      .join(vRem.select($"id".as("dst")), Seq("dst"), "left_semi")
      .select($"src", $"dst")
      .localCheckpoint()
  }
}
