package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication by clustering embeddings and dropping all but one of
  * each within-cluster near-duplicate set. Sits between exact/LSH
  * dedup (rows 23-27: same or almost-same TEXT) and prototypicality
  * pruning (row 51a: a per-cluster quality cut): it removes documents
  * that SAY the same thing in different words — the redundancy class
  * the paper showed inflates web corpora by 20-50%.
  *
  * Spark-first composition of machinery this engine already gates
  * exactly: zero-exchange centroid assignment (`Similarity
  * .assignCells` — the kmeans_assign oracle path), exact-dup vector
  * collapse FIRST (the minhash-family discipline: identical vectors
  * pair quadratically inside every cluster on a dup-heavy corpus),
  * within-cluster pairwise cosine (the candidate volume the paper
  * accepts — Σ(n/k)² bounded by cluster size, so k must scale with
  * the corpus; the cell key also carries the shuffle, so cells ≫
  * shuffle partitions keeps reducers balanced), and connected
  * components over the near-dup graph (`Dedup.clustersAuto`) so a
  * chain a→b→c resolves to ONE kept doc, not a per-pair coin flip.
  *
  * Keep rule: the component representative. `"min_id"` (default,
  * engine-exact) keeps the smallest id; `"far_from_centroid"` keeps
  * the member FARTHEST from its centroid — the paper's choice (it
  * preserves cluster-edge diversity), deterministic via (cos, id)
  * tie-break, cosine comparisons agreeing across engines (the
  * kmeans_assign precedent).
  *
  * Output: (id, semgroup, keep) for EVERY input row — exact-dup
  * members inherit their group's resolution with keep=false.
  */
object SemDedup {

  def prune(embeddings: DataFrame, idCol: String, vecCol: String,
            centroids: Seq[(Int, Array[Float])], tau: Double,
            keepRule: String = "min_id"): DataFrame = {
    require(keepRule == "min_id" || keepRule == "far_from_centroid",
      s"keepRule must be min_id|far_from_centroid, got $keepRule")
    graft.functions.GraftFunctions.register(embeddings.sparkSession)

    // 0. exact-dup collapse (the banded pair operators' step 1): one
    //    shuffle on the vector value gives member→gid and the unique
    //    set; the pair graph runs on uniques only.
    val members = Dedup.collapse(
      embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", col("vec"))
    val uniques = members.where(col("id") === col("gid"))
      .select(col("gid").as("id"), col("vec"))

    // 1. zero-exchange cell assignment over the literal centroids
    val assigned = Similarity.assignCells(uniques, "vec", centroids)

    // 2. within-cell near-dup pairs: self-join on the cell key,
    //    codegen cosine ≥ tau. Candidate volume is Σ cell², the cost
    //    SemDeDup's clustering exists to bound.
    val pairs = assigned
      .select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"))
      .join(assigned.select(col("cell"), col("id").as("id_b"),
                            col("vec").as("vec_b")), Seq("cell"))
      .where(col("id_a") < col("id_b") &&
             Dedup.cosine(col("vec_a"), col("vec_b")) >= tau)
      .select(col("id_a"), col("id_b"))

    // 3. components over the near-dup graph → (doc_id, cluster_rep)
    val comp = Dedup.clustersAuto(pairs, "id_a", "id_b")
      .select(col("doc_id").as("id"), col("cluster_rep").as("semgroup"))

    // 4. resolve uniques: paired uniques keep iff they are the
    //    component's representative; unpaired uniques are their own
    //    group and keep.
    val keepOf = keepRule match {
      case "min_id" =>
        comp.withColumn("keep", col("id") === col("semgroup"))
      case "far_from_centroid" =>
        // true cosine, not the assignment's dot_norm shortcut: the
        // rep choice compares ACROSS rows, where ‖v‖ is not a common
        // factor
        val cos = graft.functions.GraftFunctions
          .nearestCentroid(col("vec"), centroids, "cosine")
          .getField("score")
        val rep = comp.join(assigned.select(col("id"), col("vec")), Seq("id"))
          .withColumn("c2c", cos)
          .groupBy(col("semgroup"))
          .agg(min_by(col("id"), struct(col("c2c"), col("id"))).as("rep_id"))
        comp.join(rep, Seq("semgroup"))
          .select(col("id"), col("semgroup"),
                  (col("id") === col("rep_id")).as("keep"))
    }
    val resolvedUniques = uniques.select(col("id"))
      .join(keepOf, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("semgroup"), col("id")).as("semgroup"),
        coalesce(col("keep"), lit(true)).as("keep"))

    // 5. expand to every input row: exact-dup members join their
    //    gid's resolution; non-gid copies are near-dups (cos = 1) of
    //    the gid and never keep.
    members.join(resolvedUniques.withColumnRenamed("id", "gid"), Seq("gid"))
      .select(col("id"), col("semgroup"),
              (col("keep") && (col("id") === col("gid"))).as("keep"))
  }
}
