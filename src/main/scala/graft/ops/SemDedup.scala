package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication with LEARNED cluster partitions
  * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv 2023): k-means cells bound the pair
  * search (the paper's intra-cluster restriction), ε-cosine pairs group
  * transitively, and each group keeps its representative CLOSEST TO THE
  * CLUSTER CENTROID (the paper's keep-low-similarity-to-centroid rule
  * inverted to the deterministic variant: centroid-nearest, id tie-break).
  *
  * This is the data-ADAPTIVE sibling of [[Curation.semanticDedup]] (q66),
  * which buckets by data-independent random-hyperplane signatures: IVF
  * cells follow the embedding distribution, so dense regions split into
  * many small cells where fixed hyperplanes would leave one over-full
  * bucket (the [[Similarity]] header's "IVF variant — same plumbing,
  * different bucketing function", now implemented).
  *
  * Scale shape:
  *  - assignment + centroid distance: ONE map-only codegen pass (native
  *    [[graft.functions.L2SqExpr]] per centroid, broadcast literals);
  *  - pair generation: equi-join on the cell id, so candidates are
  *    Σ_cells s_c² rather than n² — bounded by the `maxCell` guard
  *    (over-full cells mean the model under-fit there; their rows are
  *    kept UNDEDUPED rather than exploding the join, and at 100 TB the
  *    fix is retraining with more cells, not a quadratic verify);
  *  - grouping: every surviving pair is intra-cell by construction, so
  *    components never span cells — ONE shuffle + per-cell local
  *    union-find ([[Dedup.connectedComponentsWithinGroups]], bounded by
  *    the same `maxCell` contract) instead of the eager O(log²)-round
  *    distributed CC;
  *  - representative choice: one bounded aggregation per component
  *    (min struct(cdist, id)) — deterministic, no window sort.
  */
object SemDedup {

  /** Surviving rows of `vectors` after IVF-partitioned ε-cosine semantic
    * dedup. `model` comes from [[Ivf.train]]/[[Ivf.trainCached]] (train
    * once per corpus; assignments must use the same model that defined
    * the cells).
    *
    * Failure mode (explicit, not silent): a cell of size s can emit up
    * to s·(s−1)/2 ε-pairs, and the per-cell union-find state is bounded
    * by `maxEdgesPerGroup` — a DENSE near-dup cell (everything within ε
    * of everything) larger than ~√(2·maxEdgesPerGroup) rows can exceed
    * it and the job fails loudly with the cell id. The fixes, in
    * preference order: retrain the IVF model with more cells (dense
    * regions mean the model under-fits there), lower `maxCell`
    * (over-full cells are kept undeduped instead of joined), or raise
    * `maxEdgesPerGroup` if the executors have the memory. The default
    * cap holds ~10M edges ≈ a fully-dense 4.5k-row cell at ~16 B/edge
    * of union-find state. */
  def semanticDedupIvf(vectors: DataFrame, idCol: String, vecCol: String,
      model: Ivf.IvfModel, eps: Double = 0.99,
      maxCell: Int = 1 << 20,
      maxEdgesPerGroup: Long = 10000000L): DataFrame = {
    require(eps > 0 && eps <= 1, "eps must be in (0, 1]")
    require(maxEdgesPerGroup >= 1, "maxEdgesPerGroup must be >= 1")
    // persisted: referenced by the cell-size profile, both pair-join
    // sides, and the representative lookup. The L2 norm is hoisted HERE
    // (one native fold per ROW) so the pair filter below pays one dot
    // per candidate pair instead of cosineSafe's dot + two norm folds —
    // same IEEE arithmetic (norm(v) is a pure function of the row).
    // Assignment goes through the ONE native argmin kernel
    // ([[Ivf.bestCentroid]] — bit-identical to the composed
    // array_min(array(struct(l2sq…))) form, IvfSpec pins it): the
    // composed tree carried k × dim literal doubles through every
    // analyzer/optimizer pass, which alone cost ~3 s of driver plan
    // time per q104 run at k = 32.
    val assigned = OpCaches.persist(vectors
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"), Ivf.bestCentroid(model, col("v")).as("best"))
      .select(col("id"), col("v"),
        col("best").getField("i").as("cell"),
        col("best").getField("d").as("cdist"),
        Similarity.norm(col("v")).as("nrm")))
    val okCells = assigned.groupBy("cell")
      .agg(count(lit(1)).as("csize"))
      .filter(col("csize") > 1 && col("csize") <= maxCell)
      .select("cell")
    val pruned = assigned.join(okCells, Seq("cell"))
    val denom = col("nrm_a") * col("nrm_b")
    val pairs = pruned.select(col("cell"), col("id").as("id_a"),
        col("v").as("v_a"), col("nrm").as("nrm_a"))
      .join(pruned.select(col("cell"), col("id").as("id_b"),
          col("v").as("v_b"), col("nrm").as("nrm_b")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      // cosineSafe semantics with the hoisted norms: one zero vector in
      // a cell must not kill the job
      .filter(when(denom === lit(0.0), lit(0.0))
        .otherwise(Similarity.dot(col("v_a"), col("v_b")) / denom) >= eps)
      .select("cell", "id_a", "id_b")
    // (id, component) for every pair member. Every edge is intra-cell by
    // construction (the equi-join above), so components NEVER span cells
    // — one shuffle + local union-find per cell replaces the eager
    // multi-round distributed CC (the q104 cost floor).
    val comp = Dedup.connectedComponentsWithinGroups(pairs, "cell",
      maxEdgesPerGroup = maxEdgesPerGroup)
    val labeled = comp.join(assigned.select(col("id"), col("cdist")), Seq("id"))
    // persisted: the loser set is component-sized (tiny) but its plan is
    // the WHOLE pair join + union-find — the old distributed CC was
    // eagerly checkpointed so downstream multi-references were cheap;
    // the lazy one-job CC needs the explicit cache or every consumer of
    // the survivors re-runs the pair generation
    val losers = OpCaches.persist(labeled
      .join(labeled.groupBy("component")
          .agg(min(struct(col("cdist"), col("id"))).as("w"))
          .select(col("component"), col("w").getField("id").as("win_id")),
        Seq("component"))
      .filter(col("id") =!= col("win_id"))
      .select(col("id").as(idCol)))
    vectors.join(losers, Seq(idCol), "left_anti")
  }
}
