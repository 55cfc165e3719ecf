package graft.etl

import graft.GraftSession

/** Cross-validation dump: materialize the example corpus, run OUR extract
  * and refine stages, and write the two stage CSVs (`result_all_banks.csv`,
  * `refined_all_banks_spark.csv`) into `args(0)` — laid out so the
  * REFERENCE's own `refine.py` can run beside them on the identical input
  * (`tools/compare_refine.py` orchestrates the diff).
  */
object RefineDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession(8)
    ExampleData.write(dir)
    val cfg = Pipeline.loadConfigs(spark, s"$dir/configs")
    val extracted = Extract.extractAll(spark, s"$dir/data", cfg.banks)
    // date columns re-render as plain strings for the CSV stage contract
    val out = Schema.extractOrder.foldLeft(extracted) { (d, c) =>
      if (Seq(Schema.TxnDate, Schema.PostDate, Schema.ConvDate).contains(c))
        d.withColumn(c, org.apache.spark.sql.functions
          .date_format(org.apache.spark.sql.functions.col(c), "yyyy-MM-dd"))
      else d
    }
    Load.writeCsv(out, s"$dir/data/result_all_banks.csv", bom = false)
    val refined = Refine.refine(
      Load.readStageCsv(spark, s"$dir/data/result_all_banks.csv"),
      cfg.cards, cfg.payments, cfg.merchants, cfg.keywords)
    Load.writeCsv(refined, s"$dir/data/refined_all_banks_spark.csv",
      bom = false)
    println(s"DUMP_OK $dir")
    spark.stop()
  }
}
