package graft.etl

import graft.GraftSession

/** Analytics cross-validation dump: read the refined stage CSV produced by
  * RefineDump/RefineBench, shape it into `all_transactions`, run OUR three
  * RFM analyses, and write them as CSVs beside the reference scripts'
  * outputs (`tools/compare_analytics.py` orchestrates the diff).
  */
object AnalyticsDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession(8)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    val cfg = Pipeline.loadConfigs(spark, s"$dir/configs")
    val refined = Refine.canonicalize(
      Load.readStageCsv(spark, s"$dir/data/refined_all_banks_spark.csv"))
    val txns = Load.toWarehouseShape(refined).cache()
    val t0 = System.nanoTime()
    Load.writeCsv(
      Analyze.merchantRfm(txns, cfg.merchants, cfg.payments),
      s"$dir/data/rfm_merchant_spark.csv", bom = false)
    Load.writeCsv(Analyze.paymentRfm(txns, cfg.payments),
      s"$dir/data/rfm_payment_spark.csv", bom = false)
    Load.writeCsv(Analyze.cardRfm(txns),
      s"$dir/data/rfm_card_spark.csv", bom = false)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"SPARK_ANALYTICS_SECONDS=$secs%.2f")
    spark.stop()
  }
}
