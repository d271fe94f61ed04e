package graft.flows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.incremental.Sinks

/** The AVM (virtual-metrology) analytics body — the chunk analytic of
  * the reference's SECOND windowed pipeline instance (`ETL.avm`,
  * nikon_ETL.py:549-590), which invokes
  * `rscript_avm(r='TLCD_Nikon_VM_Fcn', …)` (nikon_ETL.py:120-127) per
  * chunk. `TLCD_Nikon_VM_Fcn` is NOT part of the reference repository
  * (the R/ directory ships only the ROT family), so this body is a
  * representative per-glass VM estimator over the same wide raw shape:
  * per measurement, the virtual-metrology estimate is the per-axis mean
  * site offset (the zeroth-order VM model), and the detail reports each
  * site's residual against that estimate. What the reference pins — and
  * what RotFlowSpec verifies — is the flow-INSTANCE contract, not the R
  * body: AVM consumes the same raw table, emits the same
  * header/detail/error triple through the same sinks (K7/K8), and its
  * runner trails the ROT watermark (not replication) in the shared
  * lastendtime table.
  *
  * Scale: the same shape as RotFlow — regex column discovery (F5), one
  * missing-value split (P12), a one-pass melt, one groupBy on the glass
  * identity (≤ sites-per-glass rows per group, uniform), a same-key
  * re-join for residuals. Nothing corpus-wide beyond the raw scan.
  */
object AvmFlow {

  def run(raw: DataFrame,
          xColRegex: String = "^plfn_.*_x$",
          yColRegex: String = "^plfn_.*_y$"): RotFlow.RotResult = {
    val (clean, xCols, yCols) = RotFlow.clean(raw, xColRegex, yColRegex)

    // missing measurements → flag −1 (P12/K8), same dead letter as ROT
    val (present, missingErr) = Sinks.splitMissing(clean, xCols ++ yCols)

    // melt to long sites, keyed by the full (glassid, product, tstamp)
    // identity exactly as in RotFlow
    val sites = RotFlow.melt(present, xCols, yCols)

    // zeroth-order VM model per measurement: mean site offset per axis
    val model = sites.groupBy(RotFlow.KeyCols.map(col): _*)
      .agg(avg(col("x")).as("vm_x"), avg(col("y")).as("vm_y"),
           count(lit(1)).as("n_sites"))

    // residuals of every site against its glass's VM estimate
    val detail = sites.join(model, RotFlow.KeyCols)
      .select(col("glassid"), col("product"), col("tstamp"), col("site_idx"),
        (col("x") - col("vm_x")).as("x_res"),
        (col("y") - col("vm_y")).as("y_res"))

    val (h, d) = Sinks.headerDetail(model, detail, Seq("glassid", "tstamp"))
    RotFlow.RotResult(h, d, // same error schema as RotFlow's K8 sink
      missingErr.select(col("glassid"), col("product"), col("flag"), col("description")))
  }
}
