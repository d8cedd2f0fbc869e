package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/** The engine's GENERALITY tier: vertex programs whose state and messages
  * are arbitrary encodable Scala types — composite keys, adjacency lists,
  * accumulator structs — not just the scalar Double of [[GmrAlgorithm]].
  *
  * This is the Spark-first re-expression of the reference's typed KV layer
  * (`KV.skey`/`svalue`, gmr.h:37-44): where the reference ships composite
  * keys and list payloads through its sort-based exchange (TriangleCount
  * sends whole adjacency lists, algorithms.h:134-136), graft ships them
  * through `Dataset[T]` encoders and `KeyValueGroupedDataset` cogroups.
  *
  * Hook shape follows the reference's phase structure (map/reduce/update,
  * gmr.h:92-123) with two generalizations the scalar tier can't express:
  * - `send` sees the vertex's WHOLE out-adjacency and emits arbitrary
  *   (dst, msg) pairs — the reference's map() has the same power (its
  *   partition holds the adjacency in-row), and TriangleCount needs it.
  * - hooks receive the superstep index, so fixed-phase algorithms
  *   (algoIterNum-style, gmr.h:111) can switch behavior per round.
  *
  * Scale posture: adjacency is built ONCE (one groupByKey of the edge
  * relation) and cached; per round the vertex state and messages shuffle
  * (hash-partitioned on vertex id — Spark's shuffle is the reference's
  * all-to-all O5), state is local-checkpointed per round, and convergence
  * is one count() action per round; the rounds run through [[Fixpoint]],
  * exactly like [[SqlRunner]]. The typed tier trades the scalar tier's
  * zero-shuffle edge-cache join for generality — algorithms whose
  * algebra fits a Catalyst Column should stay on [[SqlRunner]].
  */
trait TypedGmrAlgorithm[V, M] extends Serializable {
  def name: String

  /** Iteration cap, mirroring MAX_ITERATION (gmr.h:32). */
  def maxIter: Int = 120

  /** If true, only vertices whose value changed last round send. */
  def activeMessaging: Boolean = true

  /** Initial state; `adj` is the vertex's out-neighbor ids (empty if none). */
  def init(id: Long, adj: Array[Long], meta: GraphMeta): V

  /** Emit (dst, message) pairs for superstep `iter` (1-based). `adjDst` /
    * `adjW` are the vertex's out-edges; destinations are normally drawn
    * from them but may be any vertex id.
    */
  def send(iter: Int, id: Long, value: V, adjDst: Array[Long],
           adjW: Array[Double], meta: GraphMeta): Iterator[(Long, M)]

  /** Commutative, associative per-destination combine (O10). */
  def merge(a: M, b: M): M

  /** New state from the merged message (None = no message this round). */
  def update(iter: Int, id: Long, oldVal: V, msg: Option[M],
             meta: GraphMeta): V

  /** Did the state change? Drives active-set pruning + convergence. */
  def changed(oldVal: V, newVal: V): Boolean
}

object TypedRunner {

  /** Run `alg` over `edges(src, dst, weight)`; returns (id, value). */
  def run[V, M](spark: SparkSession, vertices: DataFrame, edges: DataFrame,
                alg: TypedGmrAlgorithm[V, M], meta: GraphMeta)
               (implicit ev: Encoder[V], em: Encoder[M]): Dataset[(Long, V)] = {
    import spark.implicits._
    implicit val eState: Encoder[(Long, V, Boolean)] =
      Encoders.tuple(Encoders.scalaLong, ev, Encoders.scalaBoolean)
    implicit val eMsg: Encoder[(Long, M)] =
      Encoders.tuple(Encoders.scalaLong, em)
    implicit val eIdV: Encoder[(Long, V)] = Encoders.tuple(Encoders.scalaLong, ev)

    // Adjacency built once, cached — the typed analogue of SqlRunner's
    // pre-partitioned edge cache (the reference's adjloc routing table,
    // partition.h:276-279).
    val adj: Dataset[(Long, Array[Long], Array[Double])] = edges
      .select($"src", $"dst", $"weight")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val ds = scala.collection.mutable.ArrayBuffer.empty[Long]
        val ws = scala.collection.mutable.ArrayBuffer.empty[Double]
        it.foreach { e => ds += e._2; ws += e._3 }
        (src, ds.toArray, ws.toArray)
      }
      .cache()

    val verts0: Dataset[(Long, V, Boolean)] =
      vertices.select($"id").as[Long].groupByKey(identity)
        .cogroup(adj.groupByKey(_._1)) { (id, vs, as) =>
          if (vs.hasNext)
            Iterator.single((id,
              alg.init(id, if (as.hasNext) as.next()._2 else Array.empty[Long],
                meta), true))
          else Iterator.empty
        }
        .localCheckpoint()

    val run = Fixpoint(verts0, alg.maxIter) { (verts, round) =>
      val senders = if (alg.activeMessaging) verts.filter(_._3) else verts
      val msgs: Dataset[(Long, M)] = senders.groupByKey(_._1)
        .cogroup(adj.groupByKey(_._1)) { (id, vs, as) =>
          if (vs.hasNext) {
            val v = vs.next()._2
            val (ds, ws) = if (as.hasNext) {
              val a = as.next(); (a._2, a._3)
            } else (Array.empty[Long], Array.empty[Double])
            alg.send(round, id, v, ds, ws, meta)
          } else Iterator.empty
        }
      val reduced: Dataset[(Long, M)] = msgs.groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, alg.merge(a._2, b._2)))
        .map(_._2)
      val next = verts.groupByKey(_._1)
        .cogroup(reduced.groupByKey(_._1)) { (id, vs, ms) =>
          vs.map { case (_, old, _) =>
            val m = if (ms.hasNext) Some(ms.next()._2) else None
            val nv = alg.update(round, id, old, m, meta)
            (id, nv, alg.changed(old, nv))
          }
        }
        .localCheckpoint(eager = false)
      Fixpoint.Step(next, next.filter(_._3).count())
    }(verts => verts.map(t => (t._1, t._2)))
    adj.unpersist()
    run.result
  }
}
