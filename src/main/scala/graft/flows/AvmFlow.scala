package graft.flows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
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
  * Scale: the same shape as RotFlow — regex column discovery (F5), the
  * slice scanned once per chunk into a cached relation tagged with the
  * missing-value flag (P12) that all three outputs read, a one-pass melt,
  * one groupBy on the glass identity for the header and one window on it
  * for the residuals (≤ sites-per-glass rows per group, uniform). Nothing
  * corpus-wide beyond the raw scan.
  */
object AvmFlow {

  def run(raw: DataFrame,
          xColRegex: String = "^plfn_.*_x$",
          yColRegex: String = "^plfn_.*_y$"): RotFlow.RotResult = {
    val (clean, xCols, yCols) = RotFlow.clean(raw, xColRegex, yColRegex)

    // tag each measurement once — −1 missing (P12/K8), same dead letter
    // as ROT, 1 ok — into a cache that header, detail and errors all read
    val tagged = graft.Caches.track(clean.withColumn("flag",
      when(Sinks.missing(xCols ++ yCols), Sinks.FlagMissing).otherwise(Sinks.FlagOk)))

    // melt to long sites, keyed by the full (glassid, product, tstamp)
    // identity exactly as in RotFlow
    val sites = RotFlow.melt(tagged.filter(col("flag") === Sinks.FlagOk), xCols, yCols)

    // zeroth-order VM model per measurement: mean site offset per axis
    val model = sites.groupBy(RotFlow.KeyCols.map(col): _*)
      .agg(avg(col("x")).as("vm_x"), avg(col("y")).as("vm_y"),
           count(lit(1)).as("n_sites"))

    // residuals of every site against its glass's VM estimate, the same
    // mean taken over a window on the identity: no join back to the model
    val glass = Window.partitionBy(RotFlow.KeyCols.map(col): _*)
    val detail = sites
      .select(col("glassid"), col("product"), col("tstamp"), col("site_idx"),
        (col("x") - avg(col("x")).over(glass)).as("x_res"),
        (col("y") - avg(col("y")).over(glass)).as("y_res"))

    val (h, d) = Sinks.headerDetail(model, detail, Seq("glassid", "tstamp"))
    RotFlow.RotResult(h, d, // same error schema as RotFlow's K8 sink
      tagged.filter(col("flag") === Sinks.FlagMissing)
        .select(col("glassid"), col("product"), col("flag"), lit("missing measurement").as("description")))
  }
}
