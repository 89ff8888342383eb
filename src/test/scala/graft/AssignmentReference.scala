package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The aggregate forms of the IVF cell assignment and the PQ encode,
  * kept only as the reference the equivalence specs compare the in-row
  * `nearest_cosine`/`nearest_l2` projections against
  * ([[graft.operators.Similarity.cellRows]],
  * [[graft.operators.Similarity.codeRows]] and the s07 codes), and the
  * window form of the hierarchical probe and the join form of the ADC
  * table the in-row `probe_cells`/`adc_table` serve path replaced. Each
  * assignment is
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

  /** The hierarchical probe as two rank windows: (qid, qe, qnrm) query
    * rows against coarse `ccents` (cid, ce, cnrm) and fine `fcents`
    * (ccid, fcid, ce, cnrm) centroids — the top `coarseProbes` coarse
    * cells by round(cos, 6) descending, then ccid, and among their fine
    * centroids the top `fineProbes` by round(cos, 6) descending, then
    * ccid, then fcid: (qid, qe, qnrm, cid, rk2), cid = ccid·k2 + fcid
    * and rk2 its fine rank. Ranks are narrow rows (qid, ids, rounded
    * score); the query vector re-attaches by a qid-keyed join. */
  def probeCellsOf(queries: DataFrame, ccents: DataFrame, fcents: DataFrame,
      k2: Int, coarseProbes: Int, fineProbes: Int): DataFrame = {
    val wC = Window.partitionBy(col("qid"))
      .orderBy(col("c6").desc, col("ccid").asc)
    val cTop = queries.crossJoin(broadcast(ccents))
      .select(col("qid"),
        round(array_dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6).as("c6"),
        col("cid").as("ccid"))
      .withColumn("rk", row_number().over(wC))
      .filter(col("rk") <= coarseProbes)
      .select(col("qid"), col("ccid"))
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("f6").desc, col("ccid").asc, col("fcid").asc)
    cTop.join(queries, Seq("qid"))
      .join(broadcast(fcents), Seq("ccid"))
      .select(col("qid"), col("ccid"), col("fcid"),
        round(array_dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6).as("f6"))
      .withColumn("rk2", row_number().over(wF))
      .filter(col("rk2") <= fineProbes)
      .select(col("qid"), (col("ccid").cast("long") * k2 + col("fcid")).as("cid"), col("rk2"))
      .join(queries, Seq("qid"))
      .select(col("qid"), col("qe"), col("qnrm"), col("cid"), col("rk2"))
  }

  /** The ADC distance tables of (qid, qe) query rows as (qid, sub, code,
    * unit) rows: each query's `m` subvectors joined to the codebook `cb`
    * (sub, cid, cv) on sub, unit = round(‖qv − cv‖² · 1e6, 0) as a long
    * with ‖a − b‖² = a·a − 2.0·a·b + b·b. */
  def adcTables(queries: DataFrame, cb: DataFrame, m: Int): DataFrame =
    graft.operators.Similarity.subvecsOf(
        queries.select(col("qid").as("vec_id"), col("qe").as("e")), m)
      .select(col("vec_id").as("qid"), col("sub"), col("v").as("qv"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("qid"), col("sub"), col("cid").as("code"),
        round((array_dot(col("qv"), col("qv")) - lit(2.0) * array_dot(col("qv"), col("cv")) +
          array_dot(col("cv"), col("cv"))) * 1e6, 0).cast("long").as("unit"))
}
