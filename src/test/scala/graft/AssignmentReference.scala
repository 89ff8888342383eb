package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The aggregate forms of the IVF cell assignment and the PQ encode,
  * kept only as the reference the equivalence specs compare the in-row
  * `nearest_cosine`/`nearest_l2` projections against
  * ([[graft.operators.Similarity.cellRows]],
  * [[graft.operators.Similarity.codeRows]] and the s07 codes). Each is
  * a broadcast join to the centroids, then the argmax (argmin) as a
  * partial-aggregating `max_by` (`min_by`) grouped by the row's id —
  * the rounded score and lowest-id tie-break of the oracle's
  * row_number window.
  *
  * Precondition of the equivalence: `vec_id` is unique and no vector is
  * NULL. `groupBy(vec_id)` + `first(e)` collapses duplicate ids into
  * one row, and a NULL vector's NULL cosines rank by id alone, where the
  * in-row form keeps every row and gives a NULL vector a NULL cell.
  */
object AssignmentReference {
  import graft.functions.VectorFunctions.array_dot

  /** (vec_id, e, nrm, …) rows and their argmax-cosine `cid` among
    * `cents` (cid, ce, cnrm): (vec_id, cid, e, nrm). */
  def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("cos_c", array_dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cid"), struct(round(col("cos_c"), 6).as("c"), (-col("cid")).as("nc"))).as("cid"),
        first(col("e")).as("e"), first(col("nrm")).as("nrm"))

  /** (vec_id, e, nrm, ccid) rows and their argmax-cosine `fcid` among
    * their own coarse cell's fine centroids (ccid, fcid, ce, cnrm):
    * (vec_id, fcid, ccid, e, nrm). */
  def assignFine(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents), Seq("ccid"))
      .withColumn("cos_c", array_dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("fcid"), struct(round(col("cos_c"), 6).as("c"), (-col("fcid")).as("nc"))).as("fcid"),
        first(col("ccid")).as("ccid"), first(col("e")).as("e"), first(col("nrm")).as("nrm"))

  /** The two-level assignment (vec_id, e, nrm, cid) of (vec_id, e) rows
    * under coarse `cc` and fine `fc` centroids: cid = ccid·k2 + fcid. */
  def twoLevelCells(vecs: DataFrame, cc: DataFrame, fc: DataFrame, k2: Int): DataFrame = {
    val coarse = assignCells(vecs.withColumn("nrm", sqrt(array_dot(col("e"), col("e")))), cc)
      .select(col("vec_id"), col("e"), col("nrm"), col("cid").as("ccid"))
    assignFine(coarse, fc)
      .select(col("vec_id"), col("e"), col("nrm"),
        (col("ccid").cast("long") * k2 + col("fcid")).as("cid"))
  }

  /** (vec_id, sub, v) subvector rows and their argmin-L2 codeword `cid`
    * among their subspace's codewords `cb` (sub, cid, cv), by the
    * rounded ‖v − c‖² = v·v − 2·v·c + c·c: (vec_id, sub, cid, v). */
  def s07Encode(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", round(array_dot(col("v"), col("v")) -
        lit(2.0) * array_dot(col("v"), col("cv")) + array_dot(col("cv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
        first(col("v")).as("v"))
}
