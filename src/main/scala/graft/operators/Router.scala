package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** 5-way strategy dispatch (reference R1, `data_downloader.py:217-228`).
  *
  * The reference's if/elif chain becomes a `when/otherwise`-derived
  * `strategy` column; unknown types route to the error side-output
  * (`data_downloader.py:228`). As a single projection this stays inside
  * whole-stage codegen — branch-per-row, no per-strategy job until a
  * consumer filters.
  */
object Router {

  /** Adds `strategy` (sink prefix, null for unknown), `overwrite` (the
    * LINKS_OVERWRITE flag, `data_downloader.py:219-220`) and `is_error`.
    */
  def route(tasks: DataFrame): DataFrame = {
    val strategy = Schemas.sinkPrefix.foldLeft(
      when(lit(false), lit(null: String))) { case (acc, (tpe, prefix)) =>
        acc.when(col("TYPE") === tpe, lit(prefix))
    }.otherwise(lit(null: String))
    tasks
      .withColumn("strategy", strategy)
      .withColumn("overwrite", col("TYPE") === "LINKS_OVERWRITE")
      .withColumn("is_error", col("strategy").isNull)
  }

  /** The REASON an unknown `TYPE` is alerted with (R1e). */
  def unknownType(tpe: Column): Column = concat(lit("Unknown source type: "), tpe)

  /** Unknown-type error rows (R1e). */
  def errors(routed: DataFrame): DataFrame =
    routed.filter(col("is_error"))
      .select(col("ID"), col("URL"), unknownType(col("TYPE")).as("REASON"))
}
