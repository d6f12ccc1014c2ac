package graft.queries

import graft.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-CLUSTER assignment — connected components over the
  * near-dup pair graph.
  *
  * Pairwise dedup ([[TextOps.dedupNear]]) emits edges; a real corpus
  * cleanup needs the transitive closure: if A≈B and B≈C, all three
  * are one duplicate group even when A and C themselves fall below
  * the threshold (the reference's dedup story stops at per-record
  * scoring, `services/fraud_service/app/main.py:219-231`; clustering
  * is the batch-corpus analog a training-data pipeline adds). Each
  * clustered doc gets `cluster_id` = min doc_id of its component —
  * the canonical keeper — so "dedup the corpus" is then a single
  * `filter(is_keeper)`.
  *
  * Algorithm: HASH-TO-MIN (Rastogi et al., "Finding Connected
  * Components in Map-Reduce in Logarithmic Rounds", ICDE'13 — the
  * family Kiveris et al.'s SOCC'14 two-phase stars refine). Every
  * round each center u takes m(u) = min over its neighborhood ∪
  * itself — that IS the round's label frame — and then hands its
  * WHOLE neighborhood to m(u) as new edges (m(u), b). The handoff is
  * what plain label propagation lacks: propagation (with or without
  * pointer jumping over the label chains) moves the min one edge-hop
  * per round and is O(diameter) on frontier-shaped graphs — measured
  * 25 rounds on the round-12 image-dHash graph, where the jump never
  * fired because label chains were already flat — while the star
  * handoff halves every path per round (same graph: 9 rounds, chain
  * of diameter 9: 6). Each round is one groupBy(min) + one
  * equi-join + a dedup on the evolving edge list; the loop
  * checkpoints only the label and edge frames, both tiny relative to
  * the corpus (edge growth is the algorithm's published
  * O(|E| log n) transient bound). At 100 TB the label frame is
  * |clustered docs| rows of two longs; the corpus text never enters
  * the loop.
  *
  * Convergence is detected by an exact changed-count action per
  * round (labels only ever decrease, so changed == 0 is a fixpoint);
  * `maxIters` bounds the loop defensively.
  */
object DedupGraph {

  /** Per-node min-reachable-id labels for an undirected edge list
    * `(d1, d2)`. Output: `(v, lbl)`, one row per distinct endpoint.
    *
    * One Spark action per round: labels are per-node monotone
    * nonincreasing, so the GLOBAL label sum strictly decreases iff
    * any node changed — the same `agg` that materializes the round
    * doubles as the convergence test (decimal-summed so the check
    * survives id ranges whose sum would overflow a long). The
    * neighborhood-with-self frame is persisted before the min
    * aggregate and the star handoff read it twice, and each round
    * unpersists the previous round's frame once the action is done. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 64): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of rounds executed —
    * the observable the scale spec pins against the contraction
    * bound.
    *
    * One Spark action per round: labels are per-node monotone
    * nonincreasing, so the GLOBAL label sum strictly decreases iff
    * any node changed — the same `agg` that materializes the round
    * doubles as the convergence test (decimal-summed so the check
    * survives id ranges whose sum would overflow a long). Invariants
    * per round: every emitted edge stays inside one original
    * component; every node keeps an edge to its current min (the
    * (m(u), u) self-handoff), so per-node mins never increase; and a
    * fixpoint forces one center per component — two adjacent centers
    * r1 < r2 would drop r2's min next round — whose id is the
    * component min, every member labeled with it. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIters: Int = 64): (DataFrame, Int) = {
    // Round boundaries CUT the logical tree and the RDD lineage with
    // SessionCaches.cutToLeaf (its scaladoc has why not cutLineage).
    // Without a cut (a persist chain), each round's composed plan
    // references the previous round's tree several times, so the
    // LOGICAL tree size multiplies per round and the analyzer's tree
    // walks go exponential (measured: round 0 = 2 s, round 1 = 30 s
    // at sf0.1).
    import graft.SessionCaches.cutToLeaf
    // symmetric edge list; every node also self-loops through the
    // nodes frame so singout-free mins include the node itself
    var cedges = cutToLeaf(pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .distinct())
    var labels = cutToLeaf(cedges.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v")))
    // coalesce: sum over an empty label frame is SQL NULL — a corpus
    // with zero near-dup pairs must converge to an empty result, not
    // NPE on the convergence compare
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // neighborhood incl. self, per center
      val withSelf = cedges
        .union(labels.select(col("v").as("a"), col("v").as("b")))
        .persist() // min + star emission both read it
      // (a) per-center min — this IS the round's label frame
      val m = withSelf.groupBy(col("a")).agg(min(col("b")).as("lbl"))
      val nextLabels = cutToLeaf(m.select(col("a").as("v"), col("lbl")))
      // (b) hash-to-min star emission: every center hands its whole
      //     neighborhood to its min — (m(u), b) for b ∈ N(u) ∪ {u} —
      //     which is what creates the SHORTCUTS plain propagation
      //     lacks (a path halves per round instead of advancing its
      //     frontier one hop); symmetric closure + dedup keeps the
      //     edge list canonical
      val star = withSelf
        .join(nextLabels.select(col("v").as("a"), col("lbl").as("ma")), Seq("a"))
        .select(col("ma").as("a"), col("b"))
        .filter(col("a") =!= col("b"))
      val nextEdges = cutToLeaf(star
        .union(star.select(col("b").as("a"), col("a").as("b")))
        .distinct())
      val s = lblSum(nextLabels) // ONE action: materializes + checkpoints
      nextEdges.count() // materialize before the parent unpersists
      withSelf.unpersist()
      labels = nextLabels
      cedges = nextEdges
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    // An exact operator must not hand back PARTIAL labels: a
    // silently-unconverged result mislabels whole components (the
    // round-12 mm_image_clusters sf0.1 incident, under the previous
    // diameter-bound propagation). The defensive bound still exists —
    // it just fails loudly instead of lying.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIters rounds")
    (labels, iter)
  }

  /** Cluster assignment for every doc in a ≥ 0.5-Jaccard near-dup
    * pair (singletons omitted — their cluster is themselves).
    * `is_keeper` marks the canonical (min-id) member, so the deduped
    * corpus is `anti-join on (is_keeper = false)`. Oracle: DuckDB
    * recomputes the same pair list and closes it with a recursive
    * CTE. */
  val dedupClusters: Q = Q("text_dedup_clusters",
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM inter JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |          WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    val cc = connectedComponents(TextOps.nearDupPairs05(s, dir).select("d1", "d2"))
    val sz = Window.partitionBy(col("cluster_id"))
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(dedupClusters)
}
