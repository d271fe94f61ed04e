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
  * Scale: the same shape as RotFlow — regex column discovery (F5), the
  * slice scanned once per chunk into a cached relation tagged with the
  * missing-value flag (P12), and one shuffle on the measurement identity
  * into a cached row per measurement that header and detail read. The VM
  * estimate and every site's residual are row-local over that row's
  * sites (≤ sites-per-glass values, uniform): no window, no second
  * shuffle, nothing corpus-wide beyond the raw scan.
  */
object AvmFlow {

  def run(raw: DataFrame,
          xColRegex: String = "^plfn_.*_x$",
          yColRegex: String = "^plfn_.*_y$"): RotFlow.RotResult = {
    val (clean, xCols, yCols) = RotFlow.clean(raw, xColRegex, yColRegex)

    // tag each measurement once — −1 missing (P12/K8), same dead letter
    // as ROT, 1 ok — into a cache that the model and errors read
    val tagged = graft.Caches.track(clean.withColumn("flag",
      when(Sinks.missing(xCols ++ yCols), Sinks.FlagMissing).otherwise(Sinks.FlagOk)))

    // zeroth-order VM model per measurement, keyed by the full (glassid,
    // product, tstamp) identity exactly as in RotFlow: mean site offset
    // per axis over the measurement's sites
    def mean(axis: String) =
      aggregate(col(s"sites.$axis"), lit(0.0), (acc, v) => acc + v) / size(col("sites"))
    val model = graft.Caches.track(RotFlow.measurements(tagged, xCols, yCols)
      .withColumn("vm_x", mean("x")).withColumn("vm_y", mean("y"))
      .withColumn("n_sites", size(col("sites")).cast("long")))

    // residuals of every site against its measurement's VM estimate
    val detail = RotFlow.sitesOf(model, xCols.size, RotFlow.KeyCols.map(col) ++
        Seq(col("vm_x"), col("vm_y")): _*)
      .select(col("glassid"), col("product"), col("tstamp"), col("site_idx"),
        (col("x") - col("vm_x")).as("x_res"), (col("y") - col("vm_y")).as("y_res"))

    val (h, d) = Sinks.headerDetail(
      model.select((RotFlow.KeyCols ++ Seq("vm_x", "vm_y", "n_sites")).map(col): _*),
      detail, Seq("glassid", "tstamp"))
    RotFlow.RotResult(h, d, // same error schema as RotFlow's K8 sink
      tagged.filter(col("flag") === Sinks.FlagMissing)
        .select(col("glassid"), col("product"), col("flag"), lit("missing measurement").as("description")))
  }
}
