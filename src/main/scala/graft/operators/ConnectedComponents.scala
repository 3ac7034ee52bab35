package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Distributed connected components by accelerated min-label
  * propagation — the step after LSH banding in a dedup pipeline
  * (cluster transitively-linked duplicates), usable over any symmetric
  * edge list.
  *
  * Each round does TWO hops:
  *   1. edge propagation — every node takes the min label over itself
  *      and its neighbors (the classic DataFrame-CC round);
  *   2. pointer jump — every node then takes its LABEL's label
  *      (path-halving, the Shiloach-Vishkin/large-star trick).
  * The jump halves label-chain depth every round, so convergence is
  * O(log diameter) rounds instead of O(diameter) — on a 10-deep chain
  * both run ~4 rounds, but on the adversarial deep-chain shapes real
  * corpora produce (serial near-dup chains: v1≈v2≈v3≈…) the plain form
  * pays one driver-synchronized round per hop while this form pays
  * ⌈log₂⌉ (pinned by ConnectedComponentsSpec). At 100 TB, round COUNT
  * is the lever: each round is a full shuffle of the dup subgraph.
  *
  * Round-17 (guide §1.2 "the distributed algorithm first"): the first
  * hop under identity labels is just min(dst) per src, so it folds
  * into INITIALIZATION as one aggregation over the edge list — no
  * join, no distinct, and one fewer driver-synchronized round for
  * every caller (disjoint stars, the LSH-edge common case, now finish
  * in a single verification round). The fixpoint is schedule-
  * independent — only existing labels propagate, every label in a
  * component starts ≥ its min node, and stability across each edge
  * forces label equality along edges — so the initialization change
  * cannot alter the result, only the round count. (Measured dead ends,
  * recorded in OPTIMIZATION_r17.md: re-keying the round as a
  * propagated-rows-only aggregation merged by a left join added a
  * broadcast materialization per round and lost on many-round graphs;
  * disabling AQE inside the fixpoint to cut its per-exchange job
  * materialization degraded every round to 32-partition sort-merge
  * joins without broadcast-size estimates — 5-8× slower.)
  *
  * Convergence detection rides the SAME job that materializes the
  * round's labels (no extra count() job): seed rows carry the previous
  * label through the union (old=label; propagated rows old=null; every
  * node has exactly one seed row, so max(old) recovers it), and a
  * marking UDF bumps an accumulator when a label strictly improved.
  * The UDF is `asNondeterministic` to pin one-evaluation-per-row
  * semantics — the optimizer may otherwise collapse or re-evaluate a
  * deterministic-marked UDF (ADVICE r7). Task retries can only
  * re-observe genuine improvements, so over-counting never turns a
  * converged round (acc = 0) into a non-converged one — the error
  * direction is an extra round, never false convergence.
  */
object ConnectedComponents {

  /** Edge-count cutoff below which the component solve runs as a
    * driver union-find over the collected edge list instead of the
    * distributed fixpoint — the AQE-broadcast argument applied to the
    * fixpoint: a dup subgraph small enough to hold in driver memory
    * pays tens of driver-synchronized exchange jobs per query when
    * solved distributively (measured r18: q151 spent 127 build jobs /
    * ~6 s on a subgraph whose union-find solves in microseconds),
    * while one above the cutoff genuinely needs the shuffle rounds.
    * Session-tunable via `spark.graft.cc.localEdgeCutoff` (0 disables
    * the local path); the default 4M edges ≈ 64 MB collected — the
    * same order as a broadcast-join build side. The labels themselves
    * are identical either way (min node id per component; the spec
    * pins local ≡ distributed on randomized graphs), so the cutover
    * changes execution strategy only, never results. */
  val DefaultLocalEdgeCutoff = 4000000L

  private def localEdgeCutoff(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("spark.graft.cc.localEdgeCutoff")
      .map(_.toLong).getOrElse(DefaultLocalEdgeCutoff)

  /** Driver union-find (path-halving) over collected symmetric edges;
    * returns every endpoint labeled with its component's min node. */
  private[operators] def unionFind(rows: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    rows.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    val nodes = parent.keySet().asScala.toArray
    // roots are unioned min-ward (smaller root wins), so find(node) IS
    // the component's min node id
    nodes.map(n => (n, find(n)))
  }

  /** `edges` must be symmetric (both directions present) with long
    * columns `src`, `dst`. Returns (labels (node, label), rounds):
    * every node that appears in `edges`, labeled with its component's
    * min node id. Nodes with no edges never enter the subgraph —
    * seeding from edge endpoints keeps every round's join sized by the
    * DUP population, not the corpus. Subgraphs at or under
    * [[localEdgeCutoff]] edges solve on the driver (rounds = 0); the
    * distributed fixpoint below is the at-scale path. */
  def minLabel(edges: DataFrame): (DataFrame, Int) = {
    val s = edges.sparkSession
    // the whole solve runs construction-time jobs — the cutoff count,
    // the local collect, every fixpoint round — so all of it is tagged
    Materialize.scope(s, "ConnectedComponents.minLabel") {
      val e = Materialize.once("ConnectedComponents.edges",
        edges.select(col("src"), col("dst")))
      val cutoff = localEdgeCutoff(s)
      if (cutoff > 0L && e.count() <= cutoff) (localLabels(e), 0)
      else fixpoint(e)
    }
  }

  /** The driver solve of [[minLabel]]: collect the (≤ cutoff) edges,
    * union-find them, re-enter the labels as a local relation. */
  private def localLabels(e: DataFrame): DataFrame = {
    val collected = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val labeled = unionFind(collected)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rowsL = labeled.toSeq.map { case (n, l) =>
      org.apache.spark.sql.Row(n, l)
    }
    e.sparkSession.createDataFrame(rowsL.asJava, schema)
  }

  /** The distributed solve of [[minLabel]]: accelerated min-label
    * propagation to a fixpoint over the checkpointed edges `e`. */
  private def fixpoint(e: DataFrame): (DataFrame, Int) = {
    val s = e.sparkSession
    // Smart init = hop 1 for free: under identity labels the neighbor
    // minimum is min(dst) per src — one aggregation, no join/distinct.
    var labels = Materialize.once("ConnectedComponents.labels",
      e.select(col("src").as("node"), col("dst"))
        .groupBy(col("node"))
        .agg(least(col("node"), min(col("dst"))).as("label")))
    val changedAcc = s.sparkContext.longAccumulator("cc_label_improvements")
    val markImproved = udf { (newLabel: Long, oldLabel: Long) =>
      if (newLabel < oldLabel) changedAcc.add(1L)
      newLabel
    }.asNondeterministic()
    var rounds = 0
    var converged = false
    while (!converged) {
      // hop 1: min over self + neighbors, previous label carried as old
      val prop = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"),
          lit(null).cast("long").as("old"))
      val next = labels
        .select(col("node"), col("label"), col("label").as("old"))
        .union(prop)
        .groupBy(col("node"))
        .agg(min(col("label")).as("min_label"),
          coalesce(max(col("old")), lit(Long.MaxValue)).as("old"))
      // hop 2: pointer jump — follow min_label to ITS min_label
      val jumpMap = next.select(col("node").as("jn"), col("min_label").as("jl"))
      val jumped = next.join(jumpMap, next("min_label") === jumpMap("jn"), "left")
        .select(col("node"),
          least(col("min_label"), coalesce(col("jl"), col("min_label")))
            .as("new_label"),
          col("old"))
      changedAcc.reset()
      labels = Materialize.once("ConnectedComponents.labels", jumped
        .select(col("node"),
          markImproved(col("new_label"), col("old")).as("label")))
      rounds += 1
      converged = changedAcc.value == 0L
    }
    (labels, rounds)
  }
}
